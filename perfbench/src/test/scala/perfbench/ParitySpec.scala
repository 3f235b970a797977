package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.engine.model.Ccd

/** The traced assembly must behave exactly like the program's own
  * `GraftSystem`: same lifecycles on the same seed end in the same
  * control states and the same seed-topic contents. */
class ParitySpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    GraftSession.builder(master = "local[2]", shufflePartitions = "2").getOrCreate()

  /** Control log per key, in offset order, without timestamps. */
  private def controlLog(sys: CdcSystem): Map[String, Seq[String]] =
    sys.topics.readAll(Cdc.ControlTopic)
      .select(col("key"), col("offset"), from_json(col("value"), Ccd.jsonSchema).as("c"))
      .select(col("key"), col("offset"),
        to_json(struct(col("c.status"), col("c.progress"), col("c.error"))).as("state"))
      .collect().toSeq
      .sortBy(_.getLong(1))
      .groupBy(_.getString(0)).map { case (k, rows) => k -> rows.map(_.getString(2)) }

  private def seedTopic(sys: CdcSystem, queue: String): Seq[(String, String)] =
    sys.topics.readAll(queue).select("key", "value").collect().toSeq
      .map(r => r.getString(0) -> r.getString(1)).sorted

  test("traced assembly matches GraftSystem on control states and seed topics") {
    val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "parity")
    val cdc = new Cdc(spark, "data/sf0.1", work)
    val plan = Cdc.controlPlan(seed = 7L, tables = 3)
    val captures = plan.flatten
    val view = cdc.seedView(captures)

    val plain = CdcSystem.plain(spark, cdc.freshRoot("plain"), view)
    val plainPass = cdc.lifecycles(plain, plan)

    val rec = new Recorder("parity", spark)
    rec.attach()
    Trace.current = Some(rec)
    val traced = CdcSystem.traced(spark, cdc.freshRoot("traced"), view)
    val tracedPass = try cdc.lifecycles(traced, plan) finally {
      Trace.current = None
      rec.detach()
    }

    assert(plainPass.failed == 0 && tracedPass.failed == 0)
    assert(plainPass.attempted == 6 && tracedPass.attempted == 6)
    assert(cdc.check(plain, captures, plain.start().size).isEmpty)
    assert(cdc.check(traced, captures, traced.start().size).isEmpty)
    assert(controlLog(traced) == controlLog(plain))
    captures.map(_.queue).distinct.foreach { q =>
      assert(seedTopic(traced, q) == seedTopic(plain, q), s"seed topic $q")
    }
    // the decorators saw the work: every lifecycle ran init.process
    // under runOnce, and the seed appends were attributed Spark jobs
    val tree = new SpanTree(rec.spans, rec.tallies)
    assert(tree.count("init.process") == 6)
    assert(tree.named("init.process").forall(s =>
      rec.spans.find(_.id == s.parent).exists(_.name == "system.run_once")))
    assert(tree.subtree("topics.append_seed").jobs > 0)
  }
}
