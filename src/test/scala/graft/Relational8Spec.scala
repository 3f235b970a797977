package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.Relational8

/** Semantics + plan-shape guards for the Q14/Q10 TPC-H shapes. */
class Relational8Spec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("agg_tpch_q14: share is consistent with its own numerator/denominator") {
    val r = Relational8.aggTpchQ14(spark, sf).collect().head
    val promo = r.getAs[Long]("promo_e4")
    val total = r.getAs[Long]("total_e4")
    val share = r.getAs[Long]("promo_share_e6")
    assert(total > 0 && promo >= 0 && promo <= total)
    assert(share == promo * 1000000L / total,
      "floor-scaled share must equal integer division of its own sums")
    assert(r.getAs[Long]("n_rows") > 0)
  }

  test("agg_tpch_q14 broadcasts the part dimension (no fact-side shuffle join)") {
    val p = finalPlan(Relational8.aggTpchQ14(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("join_tpch_q10: top-20 ordering is total and revenue recomputes exactly") {
    import org.apache.spark.sql.functions._
    val rows = Relational8.joinTpchQ10(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    // strictly descending by (rev_e4, -custkey): the tiebreak makes it total
    rows.sliding(2).foreach { case Array(a, b) =>
      val (ra, rb) = (a.getAs[Long]("rev_e4"), b.getAs[Long]("rev_e4"))
      assert(ra > rb || (ra == rb &&
        a.getAs[Long]("c_custkey") < b.getAs[Long]("c_custkey")))
    case _ => ()
    }
    // independent recompute of one customer's revenue in exact cents
    val top = rows.head
    val l = engine.Tables.lineitem(spark, sf)
    val o = engine.Tables.orders(spark, sf)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val expect = l.filter(col("l_returnflag") === "R")
      .join(o.filter(col("o_orderdate") >= lit("1997-01-01")
          && col("o_orderdate") < lit("1997-04-01")
          && col("o_custkey") === top.getAs[Long]("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum((col("l_extendedprice").cast(dec)
        * (lit(1).cast(dec) - col("l_discount").cast(dec))
        * 10000).cast("long")).cast("long"))
      .collect().head.getLong(0)
    assert(expect == top.getAs[Long]("rev_e4"))
  }

  test("join_tpch_q10 plans TakeOrdered, not a global sort") {
    val p = finalPlan(Relational8.joinTpchQ10(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("win_rolling_median: median is a window sample and beats the mean on a spike") {
    val rows = Relational8.winRollingMedian(spark, sf).collect()
    val events = engine.Tables.events(spark, sf).count()
    assert(rows.length == events)
    // recompute per user from scratch with a plain scala sliding window
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { urs =>
      val sorted = urs.sortBy(_.getLong(1))
      sorted.indices.foreach { i =>
        val window = sorted.slice(math.max(0, i - 6), i + 1).map(_.getLong(2))
        val expect = window.sorted.apply((window.length + 1) / 2 - 1)
        assert(sorted(i).getLong(3) == expect,
          s"median mismatch at user ${sorted(i).getLong(0)} idx $i")
      }
    }
  }

  test("win_rolling_median plans ONE data exchange (frame shares the sort)") {
    val p = finalPlan(Relational8.winRollingMedian(spark, sf))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$p")
  }

  test("ts_seasonal: residuals sum to ~0 per cell and profile is broadcast") {
    val df = Relational8.tsSeasonal(spark, sf)
    val rows = df.collect()
    // per (event_type, hr): seas_mu is the truncated integer mean, so
    // the cell's residuals sum to the division remainder: |sum| < n
    rows.groupBy(r => (r.getString(1), r.getLong(2))).foreach {
      case (_, cell) =>
        val resid = cell.map(_.getLong(5)).sum
        assert(math.abs(resid) < cell.length,
          s"integer-mean residual out of range: $resid for n=${cell.length}")
    }
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"seasonal profile must broadcast:\n$p")
  }

  test("text_lm_bigram: every doc scored, scores bounded, en self-trains higher") {
    val rows = Relational8.textLmBigram(spark, sf).collect()
    val docs = engine.Tables.documents(spark, sf)
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val (n, seen, score) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(seen <= n)
      if (n == 0) assert(score == -1L)
      else assert(score == seen * 10000L / n && score >= 0 && score <= 10000)
    }
    // the reference is trained on en docs, so en must not score below
    // the corpus mean (self-training advantage)
    import org.apache.spark.sql.functions._
    val byLang = Relational8.textLmBigram(spark, sf)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .filter(col("score_e4") >= 0)
      .groupBy(col("lang")).agg(avg(col("score_e4")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val others = byLang.filterNot(_._1 == "en").values
    assert(byLang("en") >= others.sum / others.size,
      s"en must score at least the non-en mean: $byLang")
  }

  test("graph_kcore: result is a fixpoint (every core node has deg >= K in core)") {
    val rows = Relational8.graphKcore(spark, sf).collect()
    // fixpoint property: one more peel must change nothing — i.e. no
    // remaining node may sit below K (unless the core emptied)
    rows.foreach { r =>
      assert(r.getLong(1) >= Relational8.KCoreK,
        s"node ${r.getLong(0)} below K in the reported core")
    }
    // the core is a subgraph: every reported degree is bounded by the
    // node's degree in the unpeeled graph
    import org.apache.spark.sql.functions._
    val li = engine.Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val full = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val deg0 = full.select(col("u").as("n"))
      .unionAll(full.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d0"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) <= deg0(r.getLong(0))))
  }

  test("agg_countmin: CMS never underestimates and the sketch is broadcast") {
    val df = Relational8.aggCountmin(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (t, e, o) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(e >= t, s"CMS underestimated key ${r.getLong(0)}: est=$e true=$t")
      assert(o == e - t)
    }
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the d×w sketch must broadcast to the probe side:\n$p")
  }

  test("agg_median_select equals the brute-force sorted median, without a global sort") {
    import org.apache.spark.sql.functions._
    val r = Relational8.aggMedianSelect(spark, sf).collect().head
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val all = engine.Tables.lineitem(spark, sf)
      .select((col("l_extendedprice").cast(dec) * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val k = (all.length + 1) / 2
    assert(r.getAs[Long]("n_rows") == all.length)
    assert(r.getAs[Long]("k") == k)
    assert(r.getAs[Long]("median_c") == all(k - 1),
      "two-pass selection must equal the k-th order statistic")
    // the selection plan touches only ONE bucket's rows in pass 2: the
    // filtered TakeOrdered must not be a full-relation global sort
    val df2 = Relational8.aggMedianSelect(spark, sf)
    df2.collect()
    val p = df2.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"pass 2 must be a bounded TakeOrdered, not a global sort:\n$p")
  }

  test("mix_dedup_weights: weights sum to ~10000 bp and dups never raise a weight") {
    import org.apache.spark.sql.functions._
    val rows = Relational8.mixDedupWeights(spark, sf).collect()
    val bpSum = rows.map(_.getAs[Long]("weight_bp")).sum
    val n = rows.length
    // floor-scaled integer weights: total in (10000 - n, 10000]
    assert(bpSum <= 10000 && bpSum > 10000 - n, s"bp sum $bpSum")
    // effective tokens never exceed raw tokens per source
    val raw = engine.Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(sum(size(graft.engine.ops.TextFeatures.tokens(col("text"))))
        .cast("long").as("raw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("eff_toks") <= raw(r.getString(0)),
        s"effective tokens exceed raw for ${r.getString(0)}")
      assert(r.getAs[Long]("n_uniq") <= r.getAs[Long]("n_docs"))
    }
  }

  test("join_bucketed: the co-located join itself plans NO exchange") {
    import org.apache.spark.sql.functions._
    // at spec scale the orders side is broadcast-sized, which would
    // (correctly) dodge the SortMergeJoin this test exists to prove;
    // disable auto-broadcast to exercise the bucketed-layout property
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val df = SparkTest.confLock.synchronized {
      val saved = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val df0 = Relational8.joinBucketed(spark, sf)
        df0.collect()
        df0
      } finally spark.conf.set(key, saved)
    }
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$p")
    // the ONLY exchange allowed is the final 5-row priority rollup /
    // presentation sort — the join inputs read pre-bucketed, so no
    // exchange may appear below the join
    val joinIdx = p.indexOf("SortMergeJoin")
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed join inputs must not re-shuffle:\n$p")
    // and the result equals the plain (shuffled) join
    val tag = math.abs(sf.hashCode).toString
    val plain = engine.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(engine.Tables.lineitem(spark, sf)
          .withColumn("rev_e4", (col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * (lit(1).cast(org.apache.spark.sql.types.DecimalType(18, 2))
              - col("l_discount").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            * 10000).cast("long"))
          .select(col("l_orderkey"), col("rev_e4")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("rev_e4")).cast("long").as("rev_e4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
      .collect()
    assert(df.collect().toSeq == plain.toSeq)
  }

  test("join_bucketed survives an orphaned warehouse dir from a dead JVM") {
    // The round-5 failure mode: the in-memory catalog dies with the JVM
    // but `spark-warehouse/graft_bkt_*` persists, so a fresh session's
    // saveAsTable hits "managed table location already exists". Simulate
    // the fresh JVM by planting orphan dirs at the exact table paths
    // with NO catalog entries, then run the query end to end.
    import org.apache.spark.sql.functions._
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val names = Seq(s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    val wh = new java.io.File(
      new java.net.URI(spark.sessionState.conf.warehousePath).getPath)
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val orphan = new java.io.File(wh, t.toLowerCase)
      orphan.mkdirs()
      java.nio.file.Files.write(orphan.toPath.resolve("part-stale.parquet"),
        Array[Byte](1, 2, 3))
    }
    try {
      val got = Relational8.joinBucketed(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val expected = engine.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .join(engine.Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got.nonEmpty)
      got.foreach { case (prio, _, n) => assert(expected(prio) == n) }
      // and a second call in the SAME session reuses the tables (no rewrite)
      val again = Relational8.joinBucketed(spark, sf).collect()
      assert(again.length == got.length)
    } finally {
      names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("win_hampel: flags recompute from scratch and median spikes don't self-mask") {
    val rows = Relational8.winHampel(spark, sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { urs =>
      val sorted = urs.sortBy(_.getLong(1))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 6), i + 1).map(_.getLong(2))
        def lowerMed(xs: Seq[Long]) = xs.sorted.apply((xs.length + 1) / 2 - 1)
        val med = lowerMed(frame)
        val mad = lowerMed(frame.map(x => math.abs(x - med)))
        val r = sorted(i)
        assert(r.getLong(3) == med && r.getLong(4) == mad)
        val expect = if (math.abs(r.getLong(2) - med) > Relational8.HampelK * mad) 1 else 0
        assert(r.getInt(5) == expect)
      }
    }
    // the detector must actually fire somewhere and not everywhere
    val n = rows.count(_.getInt(5) == 1)
    assert(n > 0 && n < rows.length, s"outliers flagged: $n of ${rows.length}")
  }
}
