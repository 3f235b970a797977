package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.cdc.{InMemoryControlPlane, Initializer, SeedViews, Transforms}
import graft.engine.functions.VectorOps
import graft.engine.model.{Ccd, Status}
import graft.engine.topics.FileTopicStore

/** Property-based invariants — the engine port of the reference's
  * test.check layer (core_test.clj): generated CCDs through the full
  * orchestration, ledger arithmetic over arbitrary totals, and
  * bit-parity of the native expressions against their declarative
  * (oracle-mirrored) formulations. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  /** Run a ScalaCheck property and surface its result as an assertion. */
  private def check(n: Int)(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- progress ledger (core_test.clj:205-249) ----

  test("progress ledger: monotone, bounded, exact step for any total") {
    check(100)(Prop.forAll(Gen.chooseNum(0L, 2000000L)) { total =>
      val buckets = Initializer.progressBuckets(total)
      if (total <= 0) assert(buckets.isEmpty)
      else {
        val step = math.max(1L, math.ceil(total * 0.02).toLong)
        assert(buckets.size <= 51, "≤50 2%-reports (+1 rounding slack)")
        assert(buckets == buckets.sorted && buckets.distinct == buckets, "strictly monotone")
        assert(buckets.head == step && buckets.last <= total)
        assert(buckets.zip(buckets.tail).forall { case (a, b) => b - a == step })
      }
      true
    })
  }

  // ---- real PNG codec: encode→decode is the identity on the rule ----

  test("imageio codec round-trips arbitrary dimensions and seeds exactly") {
    import graft.engine.multimodal.Multimodal.Codec
    val gen = for {
      w <- Gen.chooseNum(8, 160)
      h <- Gen.chooseNum(8, 160)
      seed <- Gen.chooseNum(0L, 1000000L)
    } yield (w, h, seed)
    check(40)(Prop.forAll(gen) { case (w, h, seed) =>
      val expect = (for (x <- 0 until w; y <- 0 until h)
        yield (x + y + seed) % 256).sum
      assert(Codec.decodeImage(Codec.encodePng(w, h, seed)) == ((w, h, expect)))
      val (lo, hi) = Codec.phash(Codec.encodePng(w, h, seed))
      var (elo, ehi) = (0L, 0L)
      for (i <- 0 until 8; j <- 0 until 8)
        if ((i * (w / 8) + j * (h / 8) + seed) % 256 >= 128) {
          val b = i * 8 + j
          if (b < 32) elo |= 1L << b else ehi |= 1L << (b - 32)
        }
      assert((lo, hi) == ((elo, ehi)))
      true
    })
  }

  // ---- native expressions ≡ declarative formulations ----

  test("PolyHash ≡ per-character aggregate fold for arbitrary ASCII strings") {
    import spark.implicits._
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    check(30)(Prop.forAll(gen) { s0 =>
      val expected = {
        var h = 0L
        s0.foreach(c => h = (h * 31 + c.toInt) % 1000000007L)
        h
      }
      VectorOps.polyHash(UTF8String.fromString(s0)) == expected
    })
    // and through the SQL surface against the declarative fold
    graft.engine.functions.VectorOps.register(spark)
    val df = Seq("key agg row", "", "a.b#c 42").toDF("s")
      .withColumn("native", expr("graft_polyhash(s)"))
      .withColumn("declarative", expr(
        "aggregate(filter(split(s, ''), c -> c <> ''), cast(0 as bigint), " +
          "(h, c) -> (h * 31 + cast(ascii(c) as bigint)) % 1000000007)"))
    assert(df.filter($"native" =!= $"declarative").count() == 0)
  }

  test("DotProduct ≡ zip_with/aggregate fold, bit-for-bit") {
    import spark.implicits._
    VectorOps.register(spark)
    val vecs = Seq.tabulate(20)(i =>
      (Seq.tabulate(64)(j => math.sin(i * 64 + j).toFloat),
        Seq.tabulate(64)(j => math.cos(i * 64 + j).toFloat)))
    val df = vecs.toDF("a", "b")
      .withColumn("va", expr("transform(a, x -> cast(x as double))"))
      .withColumn("vb", expr("transform(b, x -> cast(x as double))"))
      .withColumn("native", expr("graft_dot(va, vb)"))
      .withColumn("declarative", expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (a, b) -> a + b)"))
    // exact equality — same IEEE fold order is the contract
    assert(df.filter($"native" =!= $"declarative").count() == 0)
    val l2 = df
      .withColumn("native_l2", expr("graft_l2(va, vb)"))
      .withColumn("declarative_l2", expr(
        "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), " +
          "cast(0.0 as double), (a, b) -> a + b)"))
    assert(l2.filter($"native_l2" =!= $"declarative_l2").count() == 0)
  }

  test("MortonInterleave ≡ aggregate-over-sequence fold, bit-for-bit") {
    import spark.implicits._
    VectorOps.register(spark)
    val keys = Seq.tabulate(500)(i => ((i * 2654435761L) % 65536L,
      (i * 40503L + 17) % 65536L))
    val df = keys.toDF("pk", "sk")
      .withColumn("native", expr("graft_morton(pk, sk)"))
      .withColumn("declarative", expr(
        "aggregate(sequence(0, 15), 0L, (a, i) -> a" +
          " + shiftleft(cast(shiftright(pk, i) & 1 as bigint), cast(2 * i as int))" +
          " + shiftleft(cast(shiftright(sk, i) & 1 as bigint), cast(2 * i + 1 as int)))"))
    assert(df.filter($"native" =!= $"declarative").count() == 0)
    // spot values: even bits carry pk, odd bits carry sk
    assert(VectorOps.morton16(65535L, 0L) == 0x55555555L)
    assert(VectorOps.morton16(0L, 65535L) == 0xAAAAAAAAL)
    assert(VectorOps.morton16(1L, 0L) == 1L)
    assert(VectorOps.morton16(0L, 1L) == 2L)
    assert(VectorOps.morton16(3L, 3L) == 15L)
  }

  test("IntMatVec ≡ nested transform/aggregate fold, bit-for-bit") {
    import spark.implicits._
    VectorOps.register(spark)
    val rows = 16
    val vecs = Seq.tabulate(30)(i => Seq.tabulate(64)(j =>
      ((i * 64 + j) * 40503L % 2000001L) - 1000000L))
    val m = Seq.tabulate(rows * 64)(k => if (k % 3 == 0) 1L else -1L)
    val mLit = "array(" + m.map(_ + "L").mkString(",") + ")"
    val df = vecs.toDF("v")
      .withColumn("native", expr(s"graft_matvec(v, $mLit, $rows)"))
      .withColumn("declarative", expr(
        s"""transform(sequence(0, ${rows - 1}), k ->
           |  aggregate(sequence(0, 63), 0L, (acc, j) ->
           |    acc + element_at($mLit, k * 64 + j + 1) * element_at(v, j + 1)))"""
          .stripMargin))
    assert(df.filter($"native" =!= $"declarative").count() == 0)
  }

  test("WindowHash ≡ transform/concat_ws/polyhash spelling, bit-for-bit") {
    import spark.implicits._
    VectorOps.register(spark)
    val docs = Seq.tabulate(40)(i =>
      Seq.tabulate(3 + i % 20)(j => s"tok${(i * 31 + j * 7) % 13}"))
    val df = docs.toDF("toks")
      .withColumn("native", expr("graft_winhash(toks, 8)"))
      .withColumn("declarative", expr(
        "CASE WHEN size(toks) >= 8 THEN transform(sequence(1, size(toks) - 7), " +
          "i -> graft_polyhash(concat_ws(' ', slice(toks, i, 8)))) " +
          "ELSE array() END"))
    assert(df.filter(expr("native <> declarative")).count() == 0)
  }

  test("CmsAggregator cells ≡ the declarative explode-build, per cell") {
    import spark.implicits._
    VectorOps.register(spark)
    val (d, w) = (4, 64)
    val keys = Seq.tabulate(3000)(i => (i * 2654435761L) % 37L)
    val df = keys.toDF("pk")
    val cms = org.apache.spark.sql.functions.udaf(
      new graft.engine.functions.CmsAggregator(d, w))
    val viaAgg = df
      .agg(cms($"pk").as("cells"))
      .select(org.apache.spark.sql.functions.posexplode($"cells").as(Seq("i", "c")))
      .select(expr(s"CAST(i DIV $w AS INT)").as("j"),
        ($"i" % w).cast("long").as("b"), $"c")
      .filter($"c" > 0)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaExplode = df
      .select($"pk", org.apache.spark.sql.functions.explode(
        expr(s"sequence(0, ${d - 1})")).as("j"))
      .select($"j", expr(
        s"graft_polyhash(concat(CAST(j AS STRING), ':', CAST(pk AS STRING))) % $w").as("b"))
      .groupBy($"j", $"b").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaAgg == viaExplode,
      "the typed sketch build must produce identical cells")
  }

  test("approx_count_distinct within 5% of exact at EVERY scale factor " +
    "(SURVEY §7.3g)") {
    import spark.implicits._
    // the HLL error bound must hold across the full SF range, not just
    // the one the driver gate runs at — relative error is what the
    // sketch guarantees, and it is scale-dependent machinery (register
    // saturation) that a single-SF check could miss
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val li = graft.engine.Tables.lineitem(spark, d)
      val approx = li.agg(approx_count_distinct($"l_partkey")).first.getLong(0)
      val exact = li.agg(countDistinct($"l_partkey")).first.getLong(0)
      assert(math.abs(approx - exact).toDouble / exact < 0.05,
        s"$d: approx=$approx exact=$exact")
    }
  }

  test("stratified sampling: identical rows under DIFFERENT input " +
    "partitionings, fractions within tolerance") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val li = graft.engine.Tables.lineitem(spark, d)
    def strata(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.engine.ops.Relational3.stratifiedSampleOn(df)
        .groupBy($"l_returnflag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // layout-independence is the 100 TB determinism claim: the same
    // ROWS are drawn whether the input arrives in 3 hash partitions, 7
    // round-robin partitions, or the scan's own layout (sampleBy's
    // per-partition rand would fail exactly this)
    val a = strata(li)
    val b = strata(li.repartition(3, $"l_partkey"))
    val c = strata(li.repartition(7))
    assert(a == b && b == c,
      s"sample depends on input layout: scan=$a hash3=$b rr7=$c")
    // and the drawn row SET (not just counts) is layout-independent
    val keys = (df: org.apache.spark.sql.DataFrame) =>
      graft.engine.ops.Relational3.stratifiedSampleOn(df)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        .collect().map(_.toString).sorted.toSeq
    assert(keys(li) == keys(li.repartition(7)))
    val totals = li.groupBy($"l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.engine.ops.Relational3.StratifiedBp.foreach { case (k, bp) =>
      val got = a.getOrElse(k, 0L).toDouble / totals(k)
      assert(math.abs(got - bp / 10000.0) < 0.05,
        s"stratum $k: got $got want ~${bp / 10000.0}")
    }
  }

  // ---- seed-message key ordering (seed_store_test.clj:84-104) ----

  test("seed key = name-sorted flattened id pairs for arbitrary pk column sets") {
    val colGen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8)))
      .map(_.distinct).suchThat(_.nonEmpty)
    check(10)(Prop.forAll(colGen) { pkCols =>
      val df = spark.range(1).toDF("row_id")
      val withPk = pkCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c, lit(i.toString))
      }
      val seedView = SeedViews.forTable(withPk, "s.t", pkCols)
      val msg = Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(seedView))
      val key = msg.select("key").first.getString(0)
      // key is the JSON array [col1, val1, col2, val2, …] sorted by name
      val expectedJson = "[" + pkCols.sorted.map { c =>
        val v = pkCols.indexOf(c).toString
        s""""$c","$v""""
      }.mkString(",") + "]"
      key == expectedJson
    })
  }

  // ---- fault injection at every control-plane op (test_dummies error-on!) ----

  test("hot-shingle cap only ever removes near-dup pairs, never adds") {
    import graft.engine.ops.DedupOps
    val sf = "/root/testdata/sf0.001"
    def pairs(q: graft.engine.ops.Q): Set[(Long, Long)] =
      q(spark, sf).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(DedupOps.dedupNearCapped(Long.MaxValue))
    // default cap far above the corpus's hottest shingle → identical
    assert(pairs(DedupOps.dedupNear) == uncapped)
    // aggressive caps are strict candidate pruners: subset, never superset
    Seq(5L, 2L, 1L).foreach { cap =>
      val capped = pairs(DedupOps.dedupNearCapped(cap))
      assert(capped.subsetOf(uncapped), s"cap=$cap added pairs: ${capped -- uncapped}")
    }
  }

  test("int8 quantization error is bounded by half a quantization step") {
    import graft.engine.ops.SimOps
    val sf = "/root/testdata/sf0.001"
    // (vec_id, q_sum, q_checksum, max_err_micro) — the digest form the
    // differential gate compares (flat scalars, no array columns)
    val rows = SimOps.embedQuantize(spark, sf).collect()
    assert(rows.length == 500)
    // recompute the codes with the query's own formula: the digest
    // columns alone can't prove q_i ∈ [0, 255] (an out-of-range code
    // pair can cancel inside a sum), so tie the digests back to
    // element-wise-checked codes
    val recomputed = graft.engine.Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(x as double)) AS v")
      .selectExpr("vec_id", "array_min(v) AS mn",
        "(array_max(v) - array_min(v)) / 255.0 AS scale", "v")
      .selectExpr("vec_id", "(array_max(v) - array_min(v)) / 255.0 AS step",
        "transform(v, x -> CASE WHEN scale > 0D " +
          "THEN cast(round((x - mn) / scale) as bigint) ELSE 0L END) AS q")
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Long](2)))
      .toMap
    rows.foreach { r =>
      val (id, qSum, qChk) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val err = r.getLong(3) / 1e6
      val (step, q) = recomputed(id)
      // max_err_micro is floor(err·1e6) → true err < reported + 1e-6
      assert(err <= step / 2 + 1.01e-6, s"vec $id err $err > step/2 ${step / 2}")
      // every code in the int8 range, element-wise
      assert(q.forall(c => c >= 0L && c <= 255L), s"vec $id codes out of [0,255]")
      // and the emitted digests are exactly the digests of those codes
      assert(qSum == q.sum, s"vec $id q_sum $qSum != ${q.sum}")
      assert(qChk == q.zipWithIndex.map { case (c, i) => c * (i + 1) }.sum,
        s"vec $id q_checksum mismatch")
    }
  }

  test("mixture weights: rarest language keeps everything, others downsample to its budget") {
    import graft.engine.ops.TextOps
    val rows = TextOps.mixWeights(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3) / 10000.0))
    assert(rows.nonEmpty)
    val minTokens = rows.map(_._2).min
    rows.foreach { case (lang, tokens, frac) =>
      assert(frac > 0.0 && frac <= 1.0, s"$lang frac $frac out of (0,1]")
      if (tokens == minTokens) assert(frac == 1.0, s"rarest $lang must keep all")
      // projected budget lands on the rarest language's, within rounding
      assert(math.abs(tokens * frac - minTokens) <= tokens * 1e-4,
        s"$lang projected ${tokens * frac} vs target $minTokens")
    }
  }

  test("a failure in any prepare/initialize op surfaces as a published error state") {
    val ops = Seq("trigger-exists", "create-trigger", "disable-trigger",
      "queue-exists", "create-queue", "enable-trigger")
    check(ops.size)(Prop.forAll(Gen.oneOf(ops)) { failOp =>
      val root = Files.createTempDirectory("graft-fault").toString
      val store = new FileTopicStore(spark, root, sleeper = _ => ())
      val plane = new InMemoryControlPlane(failures = _ == failOp)
      // disable-trigger is only reached when the trigger already exists
      if (failOp == "disable-trigger") plane.triggers("tpch.nation") = false
      val seedView = (t: String) =>
        if (t == "tpch.nation")
          Some(SeedViews.forTable(
            spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
            t, Seq("n_nationkey")))
        else None
      val init = new Initializer(spark, plane, store, "control", seedView)
      store.create("control")
      val states = init.process(Ccd("tpch.nation", "q_n", "mq_n", None,
        Status.Submitted, new Timestamp(1700000000000L)))
      val last = states.last
      last.status == Status.Error &&
        last.error.exists(_.contains(failOp)) &&
        // the error state is on the control topic (restart sees terminal)
        store.readCompacted("control").count() == 1
    })
  }

  // ---- generated CCDs through the full pipeline (core_test.clj:49-61) ----

  test("every processed CCD ends active or error; errors only for bad input") {
    val tableGen = Gen.oneOf(
      Gen.const("tpch.nation"),                       // known, seedable
      Gen.const("tpch.unknown"),                      // unknown table → error
      Gen.const("noschema"),                          // invalid ref → error
      Gen.alphaLowerStr.map(s => s"tpch.${s.take(10)}x")) // unknown → error
    check(8)(Prop.forAll(tableGen,
      Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)) { (table, q) =>
      val root = Files.createTempDirectory("graft-prop").toString
      val store = new FileTopicStore(spark, root, sleeper = _ => ())
      val plane = new InMemoryControlPlane()
      val seedView = (t: String) =>
        if (t == "tpch.nation")
          Some(SeedViews.forTable(
            spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
            t, Seq("n_nationkey")))
        else None
      val init = new Initializer(spark, plane, store, "control", seedView)
      store.create("control")
      val states = init.process(
        Ccd(table, s"q_$q", s"mq_$q", None, Status.Submitted,
          new Timestamp(1700000000000L)))
      val last = states.last.status
      assert(last == Status.Active || last == Status.Error)
      if (table == "tpch.nation") {
        assert(last == Status.Active)
        assert(states.map(_.status).count(_ == Status.Prepared) == 1)
        // every state was published: compacted control topic has the last one
        val compacted = store.readCompacted("control")
          .filter(col("key") === table).select("value").first.getString(0)
        assert(compacted.contains(s""""status":"${Status.Active}""""))
      } else {
        assert(last == Status.Error)
      }
      true
    })
  }
}
