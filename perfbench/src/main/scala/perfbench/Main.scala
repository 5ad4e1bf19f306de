package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, sf: String, result: Path)

/** The run record the JVM hands to `run.py`: raw samples and counts; the
  * statistics and output checks are computed there. */
final class Record {
  /** Process start to the first timed operation. */
  var setupS = 0.0
  val opS = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var scored = 0L
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILED $msg")
    failures += msg
  }
}

/** Entry point of one benchmark run inside one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir> <resultJson>`.
  */
object Main {
  /** JVM start on the `System.nanoTime` clock. */
  lazy val processStartNs: Long = {
    val uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - uptimeMs * 1000000L
  }

  /** Progress on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - processStartNs) / 1e9}%7.2f s] $msg")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    processStartNs
    val Array(workload, seed, seconds, trace, work, sf, result) = argv
    val a = Args(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(work), sf, Paths.get(result))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    require(cpus.toInt <= Runtime.getRuntime.availableProcessors,
      s"SPARK_GRAFT_CPUS=$cpus exceeds the ${Runtime.getRuntime.availableProcessors} processors")
    val spark = graft.Sessions.local(cpus, "ERROR")
    log("session up")
    val rec = new Record
    try {
      workload match {
        case "daily_history" => new Daily(spark, a, rec).run()
        case "query_mix" => new QueryMix(spark, a, rec).run()
        case w => sys.error(s"unknown workload $w")
      }
      val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      val hwmKb = status.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      val out = Map(
        "workload" -> workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace,
        "setup_s" -> rec.setupS, "op_s" -> rec.opS, "attempted" -> rec.attempted,
        "failures" -> rec.failures, "scored" -> rec.scored,
        "rss_peak_mb" -> hwmKb / 1024.0, "layers" -> rec.layers, "info" -> rec.info,
        "meta" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "spark_graft_cpus" -> cpus,
          "spark_master" -> spark.sparkContext.master,
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
          "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
          "spark" -> spark.version))
      Files.writeString(a.result, toJson(out))
    } finally spark.stop()
    // a lingering non-daemon thread must not hold the run open
    System.exit(0)
  }
}
