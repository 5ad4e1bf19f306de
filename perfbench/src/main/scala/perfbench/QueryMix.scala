package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Blocks, SparkEntry}

/** Read-only passes over a fixed list of `SparkEntry.queries` with a noop
  * sink, one closed-loop client. The seed picks each pass's query order. */
final class QueryMix(spark: SparkSession, a: Args, rec: Record) {

  val names: Seq[String] = Seq("q_rfm_features", "q_clv_scores", "q_join_star",
    "q_dedup_minhash", "q_pagerank", "q_sssp", "q_closeness", "q_hits")

  private val rng = new scala.util.Random(a.seed)

  /** Runs one query to `sink`; returns its wall time, or None if it threw.
    * Cached and checkpointed blocks are released after the clock stops. */
  private def runOne(name: String, sink: DataFrame => Unit,
      tracer: Option[Tracer]): Option[Double] = {
    rec.attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try {
        tracer match {
          case Some(t) => t.span(s"query.$name")(sink(SparkEntry.queries(name)(spark, a.sf)))
          case None => sink(SparkEntry.queries(name)(spark, a.sf))
        }
        true
      } catch { case NonFatal(e) => rec.fail(s"$name: $e"); false }
    val s = (System.nanoTime() - t0) / 1e9
    Blocks.releaseAll(spark)
    if (ok) Some(s) else None
  }

  private val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  /** One pass in a seeded order; its time is the sum of its queries'. */
  private def pass(sink: String => DataFrame => Unit, tracer: Option[Tracer]): Double =
    rng.shuffle(names).flatMap(n => runOne(n, sink(n), tracer)).sum

  /** Calls `body` until `seconds` of wall time have passed. */
  private def until(seconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) body
  }

  def run(): Unit = {
    val results = a.work.resolve("results")
    // set-up: one untimed pass that writes every query's result for the
    // oracle check
    pass(n => _.write.parquet(results.resolve(n).toString), None)
    rec.setupS = (System.nanoTime() - Main.processStartNs) / 1e9
    Main.log("set-up pass done")
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(results.resolve("oracle_sql.json"), Main.toJson(oracle))
    rec.info("results") = results.toString
    rec.info("sf_dir") = a.sf
    rec.info("queries") = names
    val scored = spark.read.parquet(results.resolve("q_clv_scores").toString)
      .first().getAs[Long]("n_scored")
    rec.info("clv_scored_per_pass") = scored

    val plain = mutable.ArrayBuffer.empty[Double]
    if (!a.trace) {
      until(a.seconds) {
        plain += pass(_ => noop, None)
        Main.log(s"pass: ${plain.last} s")
      }
      rec.opS ++= plain
      rec.scored += scored * plain.size
      rec.info("passes") = plain.size
    } else {
      // plain and traced passes alternate; their difference is the
      // tracing cost
      val traced = mutable.ArrayBuffer.empty[Double]
      val t = new Tracer(spark.sparkContext)
      until(a.seconds) {
        plain += pass(_ => noop, None)
        t.install()
        traced += pass(_ => noop, Some(t))
        t.drain()
        t.uninstall()
        Main.log(s"passes: ${plain.last} s plain, ${traced.last} s traced")
      }
      rec.info("passes") = traced.size
      val mb = 1024.0 * 1024.0
      names.foreach { n =>
        val per = t.finished.filter(_.name == s"query.$n").toSeq
        def m(f: Span => Double) = Main.median(per.map(f))
        rec.layers(s"query.${n}_s") = m(_.wallS)
        rec.layers(s"query.$n.jobs") = m(_.jobs.toDouble)
        rec.layers(s"query.$n.stages") = m(_.stages.toDouble)
        rec.layers(s"query.$n.shuffle_write_mb") = m(_.shuffleWriteBytes / mb)
        rec.layers(s"query.$n.driver_s") = m(_.driverS)
      }
      rec.layers("mix.trace_overhead_s") = Main.median(traced.toSeq) - Main.median(plain.toSeq)
    }
  }
}
