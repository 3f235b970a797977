package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Metrics, Tables}

/** Numeric scaling properties, measured not inferred: what each plan
  * class actually shuffles at runtime, and what a partition-pruned
  * scan actually reads. The quantitative complement to PlanSpec's
  * shape guards. */
class MetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  test("a map-only projection shuffles ZERO records") {
    import spark.implicits._
    val df = Tables.documents(spark, sf)
      .select($"doc_id", expr("(doc_id * 2654435761) % 4294967296 % 100").as("b"))
    val s = Metrics.shuffleStats(df)
    assert(s.recordsWritten == 0L, s"map-only plan wrote shuffle records: $s")
  }

  test("statsOfExecuted reads an executed plan's metrics without jobs, " +
    "matching shuffleStats exactly") {
    import spark.implicits._
    val df = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    val executed = Metrics.shuffleStats(df) // runs the plan
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val readBack = Metrics.statsOfExecuted(df) // walk-only
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(readBack == executed,
      s"post-hoc read $readBack differs from execute-time stats $executed")
    assert(jobsAfter == jobsBefore,
      "statsOfExecuted launched jobs — it must be a driver-side walk " +
        "(Bench reads it after every timed pass)")
  }

  test("partial aggregation shuffles O(groups × partitions), not O(rows)") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val rows = li.count()
    val df = li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("q"), count(lit(1)).as("n"))
    val s = Metrics.shuffleStats(df)
    val groups = 8 // (returnflag × linestatus) domain
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt.max(
      li.rdd.getNumPartitions)
    assert(s.recordsWritten > 0L, "an aggregate must shuffle its partials")
    assert(s.recordsWritten <= groups.toLong * parts,
      s"map-side combine failed: ${s.recordsWritten} partial rows shuffled")
    assert(s.recordsWritten < rows / 10,
      s"shuffled ${s.recordsWritten} of $rows input rows — no combine happened")
  }

  test("MinHash dedup shuffles less than the exact shingle-join dedup on the " +
    "same corpus") {
    // The LSH value proposition, measured: candidate generation moves
    // fixed-width signatures/band keys where the exact method moves
    // every exploded shingle. (MinHash's exact-Jaccard verify stage
    // still shuffles shingle sets for CANDIDATES — at corpus scale
    // those are a vanishing fraction; here the comparison to the
    // all-shingles method is the scale-honest assertion.)
    val mh = Metrics.shuffleStats(
      graft.engine.ops.DedupOps.dedupMinhash(spark, sf))
    val exact = Metrics.shuffleStats(
      graft.engine.ops.DedupOps.dedupNear(spark, sf))
    assert(mh.bytesWritten > 0L && exact.bytesWritten > 0L)
    assert(mh.bytesWritten < exact.bytesWritten,
      s"LSH ($mh) should shuffle less than the exact inverted index ($exact)")
  }

  test("mm_phash_dup constructs without running a job — the hot-band " +
    "aggregate lives in the plan, not in a build-time collect") {
    // Round-19 (verdict item 5, closing the r17/r18 residual): the
    // hot-band list used to materialize at query-BUILD time, so
    // plan-only consumers (explain, plan gates) paid a corpus scan.
    // Under noCut (checkpoint = identity, so the cut's own
    // materialization job — the one legitimate build-time job — is
    // out of the picture) constructing and physically planning the
    // query must launch ZERO jobs.
    SparkTest.confLock.synchronized {
      spark.conf.set(graft.engine.ops.Checkpoints.NoCutKey, "true")
      try {
        val tracker = spark.sparkContext.statusTracker
        val before = tracker.getJobIdsForGroup(null).length
        val df = SparkEntry.queries("mm_phash_dup")(spark, sf)
        df.queryExecution.executedPlan // force analysis + physical planning
        val after = tracker.getJobIdsForGroup(null).length
        assert(after == before,
          s"constructing mm_phash_dup launched ${after - before} job(s) — " +
            "the hot-band cap must be evaluated by the plan, not at build")
      } finally spark.conf.unset(graft.engine.ops.Checkpoints.NoCutKey)
    }
  }

  test("phash near-dup shuffles fingerprints, never image bytes") {
    // the dedup pipeline's bytes-stay-put claim, measured: what moves
    // through the band join is (band, bv, id, lo, hi) rows — a few
    // hundred bytes per IMAGE — while the PNG content (tens of KB per
    // image at real resolutions) is consumed map-side at the decode
    val images = graft.engine.multimodal.Multimodal.imageTable(spark, sf)
    val contentBytes = images.select(sum(octet_length(col("content"))))
      .head().getLong(0)
    val s = Metrics.shuffleStats(
      graft.engine.multimodal.Multimodal.mmPhashDup(spark, sf))
    assert(s.bytesWritten > 0L)
    assert(s.bytesWritten < contentBytes,
      s"phash dedup shuffled $s vs $contentBytes content bytes — " +
        "the binary column leaked into the shuffle")
  }

  test("bigram LM scoring never shuffles document text") {
    // the induce-then-probe pipeline moves (doc_id, bigram) and
    // (bigram, count) rows — bounded by corpus bigram occurrences ×
    // their width — while the text column is consumed map-side by the
    // tokenizer; text leaking into an exchange would show up as
    // shuffle bytes ≈ corpus bytes
    val textBytes = Tables.documents(spark, sf)
      .select(sum(octet_length(col("text")))).head().getLong(0)
    val s = Metrics.shuffleStats(
      graft.engine.ops.Relational8.textLmBigram(spark, sf))
    assert(s.bytesWritten > 0L)
    assert(s.bytesWritten < textBytes * 3,
      s"bigram LM shuffled $s vs $textBytes text bytes — expected only " +
        "narrow (id, bigram) rows in the exchanges")
  }

  test("count-min sketch build shuffles O(d×w×partitions) cells, not O(rows)") {
    val li = Tables.lineitem(spark, sf)
    val rows = li.count()
    val s = Metrics.shuffleStats(
      graft.engine.ops.Relational8.aggCountmin(spark, sf))
    // build cells + top-20 key aggregate + probe rows; the d-fold
    // exploded input must collapse in the map-side combine, so the
    // total stays well under the d×rows a combine-less build would move
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten < rows,
      s"CMS shuffled ${s.recordsWritten} records for $rows input rows — " +
        "the d-fold explode leaked into the exchange uncombined")
  }

  test("as-of grid resampling shuffles each side once, not the pair blow-up") {
    val grid = graft.engine.ops.Relational3.tsAsofGrid(spark, sf)
    val nOut = grid.count()
    val nEvents = Tables.events(spark, sf).count()
    val s = Metrics.shuffleStats(grid)
    // the merge consumes one hash exchange per side (grid rows +
    // events) plus the final order; the composed range-join form would
    // shuffle ~every (grid, prior-event) PAIR — orders of magnitude
    // more rows than grid + events
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten <= 2L * (nOut + nEvents),
      s"as-of grid shuffled ${s.recordsWritten} records for $nOut grid " +
        s"rows + $nEvents events — pair materialization leaked in")
  }

  test("substring dedup shuffles hashed windows, never the window text") {
    // the narrow-shuffle claim, measured: what moves is (doc_id, g)
    // with g an 8-byte polyhash — bytes per shuffled record must stay
    // far below the ~50 bytes an 8-token window string would cost
    val s = Metrics.shuffleStats(
      graft.engine.ops.DedupOps.dedupSubstring(spark, sf))
    assert(s.recordsWritten > 0L)
    val bytesPerRecord = s.bytesWritten.toDouble / s.recordsWritten
    assert(bytesPerRecord < 40,
      s"shuffled ${bytesPerRecord}%.1f B/record — window TEXT is leaking " +
        s"into the shuffle instead of the 8-byte hash: $s")
  }

  test("neighbor-Jaccard shuffles stay bounded by candidate pairs, not all-pairs") {
    // posting-list candidate generation: the (sa, sb) pair stream is
    // SUM over parts of C(df,2) — with the df cap that is linear-ish
    // in edges, provably below the C(|suppliers|,2) all-pairs square
    import spark.implicits._
    val edges = Tables.lineitem(spark, sf)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("p")).distinct()
    val cand = edges.groupBy($"p").agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) DIV 2"))).collect()(0).getLong(0)
    val s = Metrics.shuffleStats(
      graft.engine.ops.Relational7.graphJaccard(spark, sf))
    // every shuffle stage (edge dedup, degree partials, pair partials)
    // is bounded by a small multiple of the candidate count
    assert(s.recordsWritten < 6 * cand,
      s"shuffled ${s.recordsWritten} records vs $cand bucketed candidates — " +
        s"the join went quadratic: $s")
  }

  test("power-iteration aggregate shuffles O(dims × partitions), not O(rows)") {
    import spark.implicits._
    // the round-8 scale claim for embed_pca_power: the per-iteration
    // shuffle is dimension-sized whatever the corpus size — measure
    // one iteration's aggregate (map-only dot + 64-group aggregate)
    graft.engine.ops.TextFeatures.ensureRegistered(spark)
    val x = Tables.embeddings(spark, sf).select(
      expr("transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT))")
        .as("v_mu"))
    val rows = x.count()
    val vLit = "array(" + Seq.fill(64)("1000000L").mkString(",") + ")"
    val u = x.withColumn("dot", expr(
        s"aggregate(zip_with(v_mu, $vLit, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"))
      .select(posexplode($"v_mu").as(Seq("j", "xj")), $"dot")
      .groupBy($"j")
      .agg(sum($"xj".cast("decimal(38,0)") * $"dot").as("u"))
    val s = Metrics.shuffleStats(u)
    val parts = x.rdd.getNumPartitions
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten <= 64L * parts,
      s"iteration shuffled ${s.recordsWritten} rows — the 64-group " +
        s"map-side combine failed (corpus is $rows vectors)")
  }

  test("join_tpch_q21 shuffles at most the fact sizes — single-distinct " +
    "aggregate, no Expand, no join-back") {
    // the hand-decorrelation claim, measured: both correlated probes
    // became ONE orderkey-clustered aggregate whose min=max spelling
    // of "exactly one late supplier" avoids the second distinct (and
    // with it the 2x Expand of every joined row) and returns the
    // culpable supplier without re-joining the late lines. Partial
    // distinct-on-(order, supplier) collapses before the exchange, so
    // total shuffle stays within the fact sizes themselves.
    val li = Tables.lineitem(spark, sf).count()
    val ord = Tables.orders(spark, sf).count()
    val s = Metrics.shuffleStats(
      graft.engine.ops.Relational14.joinTpchQ21(spark, sf))
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten <= 2L * (li + ord),
      s"q21 shuffled ${s.recordsWritten} records for $li + $ord fact rows")
  }

  test("one label-propagation round shuffles O(E + V), not O(E x V)") {
    import spark.implicits._
    // graph_labelprop's per-round claim (its rounds are lineage-cut, so
    // the final plan hides them — measure one round's dataflow, the
    // shape every round repeats): edge join + (node, label) counts +
    // per-node argmax, all map-side combined
    val nodes = Tables.part(spark, sf).select($"p_partkey".as("node"))
    val nV = nodes.count()
    val e0 = nodes.filter($"node" >= 10)
      .select($"node".as("a"), expr("node DIV 10").as("b"))
    val edges = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
    val nE = edges.count()
    val labels = nodes.select($"node", $"node".as("label"))
    val round = edges
      .join(labels.withColumnRenamed("node", "b2"), $"b" === $"b2")
      .groupBy($"a", $"label").agg(count(lit(1)).as("c"))
      .groupBy($"a")
      .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
      .select($"a".as("node"), (-$"m.nl").as("new_label"))
    val s = Metrics.shuffleStats(round)
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten <= 2L * (nE + nV),
      s"one round shuffled ${s.recordsWritten} records for E=$nE V=$nV")
  }

  test("data_zone_prune plans on metadata scale and actually prunes") {
    // the zone-map simulation must never move row data: everything
    // shuffled is zone-map/aggregate rows (measured 41 records vs 60k
    // input rows at sf0.01); and on the 4-bucket sf0.01 layout the
    // point probes must each skip at least one bucket
    val sf01 = "/root/testdata/sf0.01"
    val rows = Tables.lineitem(spark, sf01).count()
    val df = graft.engine.ops.Relational11.dataZonePrune(spark, sf01)
    val s = Metrics.shuffleStats(df)
    assert(s.recordsWritten > 0L)
    assert(s.recordsWritten < rows / 100,
      s"zone-prune shuffled ${s.recordsWritten} records — row data moved " +
        s"through the metadata simulation ($rows input rows)")
    val out = df.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (total, hit) = (r.getAs[Long]("n_buckets"), r.getAs[Long]("hit_buckets"))
      assert(hit < total,
        s"probe ${r.getAs[Long]("probe_id")} pruned nothing ($hit of $total)")
    }
  }
}
