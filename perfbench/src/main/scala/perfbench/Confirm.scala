package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.engine.GraftSession

/** Writes the expected query_mix digests from results that were checked
  * against the DuckDB oracles.
  *
  * {{{
  * Confirm VERIFY_OUT_DIR EXPECTED_TSV
  * }}}
  *
  * `VERIFY_OUT_DIR` is the output of `graft.Verify` on the benchmark's
  * data, after `tools/check.py` passed on it: one parquet result per
  * query. Each result is digested the same way a benchmark run digests
  * the live query, one `name rows h1 h2` line per query.
  */
object Confirm {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val mix = new QueryMix(spark, "")
    val lines = QueryMix.All.sorted.map(name => mix.digest(spark.read.parquet(s"${args(0)}/$name")).line(name))
    val header = "# query\trows\thash_a\thash_b (see perfbench/README.md)"
    Files.write(Paths.get(args(1)),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    lines.foreach(println)
    spark.stop()
  }
}
