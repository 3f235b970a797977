package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.topics.FileTopicStore

/** FileTopicStore semantics (reference topic_store.clj): keyed append,
  * offset ordering, compaction-on-read, ensure/clear, delete retry
  * with cube-law backoff. */
class TopicStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private def freshStore(): (FileTopicStore, String) = {
    val root = Files.createTempDirectory("graft-topics").toString
    (new FileTopicStore(spark, root, sleeper = _ => ()), root)
  }

  test("create / exists / clear lifecycle") {
    val (store, _) = freshStore()
    assert(!store.exists("t1"))
    store.create("t1")
    assert(store.exists("t1"))
    store.clear("t1")
    assert(store.exists("t1") && store.readAll("t1").count() == 0)
  }

  test("append assigns contiguous offsets across appends") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"))
    store.append("t", Seq(("k1", "v3")).toDF("key", "value"))
    val rows = store.readAll("t").select("key", "value", "offset")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).toSeq == Seq(0L, 1L, 2L))
    assert(rows.last == (("k1", "v3", 2L)))
  }

  test("readCompacted keeps latest value per key (log compaction)") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "2", "b" -> "1"))
  }

  test("ARBITRARY append sequences: compaction keeps exactly last-per-key " +
    "plus all un-keyed, offsets stay contiguous") {
    // the fixed-data tests pin each behavior once; this fuzzes the
    // combination — random interleavings of keyed/unkeyed appends with
    // key reuse across and within appends, checked against a
    // driver-side fold of the log contract
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val msgGen = for {
      k <- Gen.oneOf(Gen.const(null: String), Gen.oneOf("a", "b", "c"))
      v <- Gen.chooseNum(0, 999).map(_.toString)
    } yield (k, v)
    val appendsGen = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(m => Gen.listOfN(m, msgGen))))
    // forAllNoShrink: the default String shrinker NPEs on null keys
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(appendsGen) { appends =>
        val (store, _) = freshStore()
        store.create("t")
        appends.foreach(batch => store.append("t", batch.toDF("key", "value")))
        val log = appends.flatten
        val all = store.readAll("t").select("key", "value", "offset")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy(_._3)
        val offsetsOk = all.map(_._3).toSeq == log.indices.map(_.toLong)
        val orderOk = all.map(t => (t._1, t._2)).toSeq == log
        val compacted = store.readCompacted("t").select("key", "value")
          .collect().map(r => (r.getString(0), r.getString(1)))
        val wantKeyed = log.zipWithIndex.filter(_._1._1 != null)
          .groupBy(_._1._1).map { case (_, ms) => ms.maxBy(_._2)._1 }.toSet
        val wantUnkeyed = log.filter(_._1 == null)
        val keyedOk = compacted.filter(_._1 != null).toSet == wantKeyed
        val unkeyedOk = compacted.filter(_._1 == null).map(_._2).sorted.toSeq ==
          wantUnkeyed.map(_._2).sorted
        offsetsOk && orderOk && keyedOk && unkeyedOk
      })
    assert(res.passed, res.status.toString)
  }

  test("un-keyed (null-key) messages land and survive reads (core.clj:171-174)") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq((null: String, "bare1"), (null, "bare2"), ("k", "keyed"))
      .toDF("key", "value"))
    val rows = store.readAll("t").select("key", "value").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.count(_._1 == null) == 2, "non-map seeds sent un-keyed")
    assert(rows.map(_._2).toSet == Set("bare1", "bare2", "keyed"))
  }

  test("storage compaction keeps latest per key + all un-keyed, preserves offsets") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1"), (null: String, "bare")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    store.compact("t")
    val rows = store.readAll("t").select("key", "value", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("a", "2", 3L), ("b", "1", 1L), (null, "bare", 2L)))
    // appends continue past the surviving max offset
    store.append("t", Seq(("c", "1")).toDF("key", "value"))
    assert(store.readAll("t").agg(org.apache.spark.sql.functions.max($"offset"))
      .first.getLong(0) == 4L)
  }

  test("partitioned topics: key-hash routing, per-partition offsets, compaction") {
    val root = Files.createTempDirectory("graft-topics-p").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 8)
    store.create("t")
    val keys = (1 to 100).map(i => (s"k$i", s"v$i"))
    store.append("t", keys.toDF("key", "value"))
    store.append("t", Seq(("k1", "v1b"), ("k2", "v2b"), (null: String, "bare"))
      .toDF("key", "value"))
    val all = store.readAll("t").collect()
    assert(all.filter(_.isNullAt(0)).map(_.getInt(2)).toSeq == Seq(0),
      "an un-keyed message routes to partition 0")
    // every key is always in the same partition; offsets are dense per partition
    val byPartition = all.groupBy(_.getInt(2))
    byPartition.foreach { case (_, rows) =>
      val offs = rows.map(_.getLong(3)).sorted.toSeq
      assert(offs == (0L until offs.size).toSeq, "per-partition offsets dense from 0")
    }
    val k1parts = all.filter(_.getString(0) == "k1").map(_.getInt(2)).distinct
    assert(k1parts.length == 1, "a key lives in exactly one partition")
    // compaction keeps the replays' latest values across partitions
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == 101 && m("k1") == "v1b" && m("k2") == "v2b" && m("k3") == "v3")
  }

  test("readStream admits a backlog at most 100 files per micro-batch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val (store, root) = freshStore()
    store.create("t")
    // 101 one-message log files, written directly: appending them one
    // by one would cost 101 Spark jobs for the same backlog
    (0 until 101).foreach { i =>
      Files.writeString(java.nio.file.Paths.get(root, "t", f"part-$i%03d.json"),
        s"""{"key":"k$i","value":"v$i","partition":0,"offset":$i}""" + "\n")
    }
    val sizes = scala.collection.mutable.Buffer[Long]()
    val q = store.readStream("t").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-topics-adm").toString)
      .foreachBatch { (b: DataFrame, _: Long) => sizes += b.count(); () }
      .start()
    q.awaitTermination()
    assert(sizes.toSeq == Seq(100L, 1L), s"micro-batch sizes: $sizes")
  }

  test("cube-law backoff curve matches the reference (topic_store.clj:21-27)") {
    // n=0 → 0: the first retry is immediate, exactly as the reference's
    // (-> n (pow 3) (/ 2) round (* 2) (* 1000)) evaluates at n=0
    val got = (0 to 5).map(FileTopicStore.backoffMs)
    assert(got == Seq(0L, 2000L, 8000L, 28000L, 64000L, 126000L))
  }

  test("append with a seq column pins intra-append offset order (multi-partition source)") {
    val (store, _) = freshStore()
    store.create("t")
    // same key, several states in one append, source spread over many
    // partitions — without the seq contract the final offset order would
    // depend on task layout
    val states = (0 until 8).map(i => ("tbl", s"state$i", i))
    store.append("t", states.toDF("key", "value", "seq").repartition(8))
    val vals = store.readAll("t").orderBy($"offset")
      .select("value").collect().map(_.getString(0)).toSeq
    assert(vals == (0 until 8).map(i => s"state$i"))
    // compaction therefore keeps the LAST published state
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("tbl" -> "state7"))
  }

  test("dirty-ratio policy self-compacts a busy keyed topic") {
    val root = Files.createTempDirectory("graft-topics-dr").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (),
      dirtyRatio = Some(0.75))
    store.create("t")
    // generations of the same key: the policy evaluates the log AS OF
    // THE PREVIOUS append (one scan per append), so with 4 superseded
    // states on file — ratio 3/4 ≥ 0.75 — the 5th append self-compacts
    (1 to 5).foreach(i => store.append("t", Seq(("k", s"v$i")).toDF("key", "value")))
    val rows = store.readAll("t").select("key", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("k", "v5")), s"expected self-compacted single row, got $rows")
    // appends continue past the surviving offset
    store.append("t", Seq(("k2", "x")).toDF("key", "value"))
    assert(store.readAll("t").count() == 2)
  }

  test("compaction's crash window is loss-free: old + compacted files " +
    "visible together still read correctly, next compact() restores clean") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    val store = new FileTopicStore(spark, root)
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    val before = store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // simulate the crash-between-flip-and-delete state the compact()
    // comment documents: ALL old files still present, plus a complete
    // visible compacted copy (duplicate rows, identical offsets)
    val dirT = java.nio.file.Paths.get(root, "t")
    val olds = {
      val ls = java.nio.file.Files.list(dirT)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.filter(_.toString.endsWith(".json")).toVector
      } finally ls.close()
    }
    olds.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p, dirT.resolve(s"compacted-crash-$i.json"))
    }
    // keyed duplicates collapse on read: same compacted view as before
    val after = store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before, "duplicated files must not change the compacted view")
    // the next compact() restores a clean, duplicate-free log
    store.compact("t")
    assert(store.readAll("t").count() == 2) // a→2, b→1, exactly once each
    assert(store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == before)
  }

  test("hidden (dot-prefixed) staging files are invisible to reads and " +
    "cleared by the next compact()") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-hidden").toString
    val store = new FileTopicStore(spark, root)
    store.create("t")
    store.append("t", Seq(("a", "1")).toDF("key", "value"))
    val n = store.readAll("t").count()
    // a compaction that died in step 1 leaves dot-prefixed files behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "t", ".compacted-dead-0.json"),
      """{"key":"zz","value":"GHOST","partition":0,"offset":99}""")
    assert(store.readAll("t").count() == n,
      "hidden staging files must never be read")
    store.compact("t")
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root, "t"))
    try {
      import scala.jdk.CollectionConverters._
      assert(!ls.iterator().asScala.exists(_.getFileName.toString.startsWith(".")),
        "stale staging files must be cleared by compact()")
    } finally ls.close()
    assert(store.readAll("t").count() == n)
  }

  test("deleteWithRetry retries with backoff until gone, then can re-create") {
    val root = Files.createTempDirectory("graft-topics").toString
    val slept = scala.collection.mutable.Buffer[Long]()
    // fail the first two delete attempts to exercise the retry loop
    var deletes = 0
    val store: FileTopicStore = new FileTopicStore(spark, root,
      sleeper = ms => slept += ms,
      failures = (op, _) => op == "delete" && { deletes += 1; deletes <= 2 })
    store.create("t")
    intercept[RuntimeException](store.delete("t")) // first injected failure
    store.deleteWithRetry("t") // fails once more inside, then succeeds
    assert(!store.exists("t"))
    assert(slept.nonEmpty && slept.head == 0L, "first retry is immediate (n=0 → 0ms)")
  }
}
