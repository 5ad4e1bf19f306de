package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.Pipeline.Dirs
import graft.clv.ClvModel
import graft.io.{Catalog, Sources}
import graft.model.Schemas
import graft.operators.Rfm
import graft.quality.Firewall
import graft.sim.Generate

/** What one day left behind, measured after the day returned (untimed). */
final case class DayRecord(day: Int, wallS: Double, txn: Long, scored: Long,
    digest: String, sums: Seq[Double], writtenBytes: Long, stagingAppendBytes: Long,
    stagingFiles: Int, stagingBytes: Long, snapshotVersions: Int)

/** The paper's daily DAG, `Pipeline.runDaily`, run day after day by one
  * closed-loop client on a store under `work`. Every day's window, as-of
  * date and generator seed derive from the workload seed.
  */
final class Daily(spark: SparkSession, a: Args, rec: Record) {
  import Daily._

  /** `overwriteParquet`'s default retain count; a live snapshot version
    * count above it plus the grace copy is a leak. */
  private val Retain = 2

  private val base = java.time.LocalDate.of(2020, 1, 1)
    .plusDays(java.lang.Math.floorMod(a.seed, 1000L))
  private def window(d: Int) = s"${base.plusDays(d.toLong)} 00:00:00"
  private def asOf(d: Int) = base.plusDays(d + 1L).toString
  private def daySeed(d: Int) = a.seed * 1000003L + d

  private def dirs(root: Path) = Dirs(root.resolve("staging").toString,
    root.resolve("master_users").toString, root.resolve("features").toString,
    root.resolve("predicted_clv").toString)

  private def historyDays: Seq[HistoryDay] =
    History.plan((0 until HistoryDays).map(d => (d, daySeed(d), window(d))),
      NewUsers, ReturningUsers)

  /** Lays down `historyDays` days of what `runDaily`'s generate-and-append
    * step would have written, one staging and one registry file per day. */
  private def buildHistory(d: Dirs): Unit = {
    Catalog.createIfNotExists(spark, d.masterUsers, Schemas.masterUsers)
    val (txns, ids) = History.frames(spark, historyDays)
    History.appendByDay(txns, HistoryDays, d.staging)
    History.appendByDay(ids, HistoryDays, d.masterUsers)
  }

  /** The one-plan history generator must give, for its last day, exactly
    * the rows `Generate.dailyBatch` gives. */
  private def checkHistory(): Unit = {
    val last = historyDays.last
    rec.attempted += 1
    val mine = History.frames(spark, historyDays)._1
      .filter(col("day") === last.day).drop("day")
    val theirs = Generate.dailyBatch(spark, last.maxId, last.window, last.seed,
      NewUsers, ReturningUsers)._1
    val diff = mine.exceptAll(theirs).count() + theirs.exceptAll(mine).count()
    if (diff != 0)
      rec.fail(s"history day ${last.day}: $diff rows differ from Generate.dailyBatch")
  }

  private val ScoreCols = Seq("predicted_purchases", "predicted_avg_value", "clv",
    "negatif_clv_flag", "outliners_flag")

  /** Fingerprint of a `predicted_clv` snapshot: its row count, the XOR of
    * a 64-bit hash of every row (customer ids are unique), and the sum of
    * each score column. The hash covers exact bits, which do not repeat
    * between runs (see [[ScoreTolerance]]); the sums are compared within
    * that tolerance. */
  private def fingerprint(df: DataFrame): (Long, String, Seq[Double]) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)) +:
        ScoreCols.map(c => sum(col(c).cast("double"))): _*).first()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val sums = ScoreCols.indices.map(i => if (r.isNullAt(i + 2)) 0.0 else r.getDouble(i + 2))
    (r.getLong(0), f"$x%016x", sums)
  }

  /** Rows of two `predicted_clv` snapshots that differ: a customer in one
    * only, a different flag, or a score apart by more than
    * [[ScoreTolerance]] of its value. */
  private def differingRows(a: DataFrame, b: DataFrame): Long = {
    def ne(c: String) =
      if (c.endsWith("_flag")) col(s"a.$c") =!= col(s"b.$c")
      else abs(col(s"a.$c") - col(s"b.$c")) >
        greatest(abs(col(s"a.$c")), abs(col(s"b.$c"))) * ScoreTolerance + 1e-12
    a.as("a").join(b.as("b"), Seq("customer_id"), "full_outer")
      .filter(ScoreCols.map(c => col(s"a.$c").isNull || col(s"b.$c").isNull || ne(c))
        .reduce(_ || _))
      .count()
  }

  private final class Loop(root: Path) {
    val d = dirs(root)
    private var before = Store.files(root)

    /** Measures what day `day` left on disk and in `predicted_clv`. */
    def account(day: Int, wallS: Double, out: DataFrame): DayRecord = {
      val after = Store.files(root)
      val written = Store.written(before, after)
      before = after
      val staging = java.nio.file.Paths.get(d.staging)
      val appended = written.keys.filter(p => p.startsWith(staging) && Store.isData(p)).toSeq
      val txn = if (appended.isEmpty) 0L
        else spark.read.parquet(appended.map(_.toString): _*).count()
      val (scored, dg, sums) = fingerprint(out)
      val stagingData = after.filter { case (p, _) => p.startsWith(staging) && Store.isData(p) }
      val versions = math.max(Sources.listVersions(d.features).size,
        Sources.listVersions(d.predictedClv).size)
      if (versions > Retain + 1)
        rec.fail(s"day $day: $versions live snapshot versions exceed retain $Retain + grace copy")
      DayRecord(day, wallS, txn, scored, dg, sums, written.values.sum,
        appended.map(written).sum, stagingData.size, stagingData.values.map(_._1).sum,
        versions)
    }
  }

  private def runDaily(d: Dirs, day: Int): DataFrame =
    Pipeline.runDaily(spark, d, window(day), asOf(day), daySeed(day),
      NewUsers, ReturningUsers)

  /** `runDaily`'s step order, rebuilt from the same public calls with a
    * span around each layer (`transformValidateScore` is private). The
    * run compares this day's `predicted_clv` with `runDaily`'s. */
  private def tracedDay(t: Tracer, d: Dirs, day: Int): DataFrame = t.span("day") {
    val maxId = t.span("io.registry_max") {
      Catalog.createIfNotExists(spark, d.masterUsers, Schemas.masterUsers)
      Catalog.readOrEmpty(spark, d.masterUsers, Schemas.masterUsers)
        .agg(coalesce(max(col("CustomerID")), lit(0L))).first().getLong(0)
    }._1
    val newIds = t.span("io.append_staging") {
      val (batch, ids) = Generate.dailyBatch(spark, maxId, window(day), daySeed(day),
        NewUsers, ReturningUsers)
      Sources.appendParquet(batch, d.staging)
      ids
    }._1
    t.span("io.append_registry")(Sources.appendParquet(newIds, d.masterUsers))
    val staging = t.span("rfm.features_write") {
      val staging = spark.read.parquet(d.staging)
      Sources.overwriteParquet(Rfm.customerFeatures(staging, to_date(lit(asOf(day)))),
        d.features)
      staging
    }._1
    val featuresOnDisk = Sources.readSnapshot(spark, d.features)
    t.span("firewall.validate")(Firewall.validateFeatures(staging, featuresOnDisk))
    val (returning, model) = t.span("clv.fit") {
      val df = ClvModel.prepare(featuresOnDisk)
      if (df.isEmpty)
        throw new IllegalArgumentException("INPUT ERROR: Dataframe is empty")
      if (df.columns.toSeq != ClvModel.expectedColumns)
        throw new IllegalArgumentException(s"Bad Schema! got ${df.columns.mkString(", ")}")
      val returning = df
        .filter(col("frequency") > 0 && col("monetary") > 0)
        .withColumn("frequency", col("frequency").cast("double"))
        .withColumn("recency", col("recency").cast("double"))
        .withColumn("t", col("t").cast("double"))
        .withColumn("monetary", col("monetary").cast("double"))
      (returning, ClvModel.fitModel(returning))
    }._1
    t.span("clv.score_write") {
      Sources.overwriteParquet(ClvModel.outputColumns(ClvModel.score(returning, model)),
        d.predictedClv)
    }
    Sources.readSnapshot(spark, d.predictedClv)
  }._1

  /** Runs `day` through `step` on the store behind `l`; each day's own
    * wall time is the sample. None if the day threw. */
  private def oneDay(l: Loop, day: Int, step: (Dirs, Int) => DataFrame): Option[DayRecord] = {
    rec.attempted += 1
    val s = System.nanoTime()
    try {
      val df = step(l.d, day)
      val r = l.account(day, (System.nanoTime() - s) / 1e9, df)
      Main.log(s"day $day: ${r.wallS} s")
      Some(r)
    } catch { case NonFatal(e) => rec.fail(s"day $day: $e"); None }
  }

  /** Calls `body` with consecutive days from `first` until `seconds` of
    * wall time have passed. */
  private def forDays(first: Int, seconds: Double)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var day = first
    while ((System.nanoTime() - t0) / 1e9 < seconds) { body(day); day += 1 }
  }

  def run(): Unit = {
    // set-up: history, then untimed days to warm up the JIT
    val root = a.work.resolve("store")
    buildHistory(dirs(root))
    Main.log("history built")
    (0 until WarmupDays).foreach { i =>
      runDaily(dirs(root), HistoryDays + i).count()
      Main.log(s"warm-up day ${HistoryDays + i}")
    }
    rec.setupS = (System.nanoTime() - Main.processStartNs) / 1e9
    val first = HistoryDays + WarmupDays
    rec.info("history_days") = HistoryDays
    rec.info("new_users_per_day") = NewUsers
    rec.info("returning_users_per_day") = ReturningUsers
    rec.info("history_rows") = spark.read.parquet(dirs(root).staging).count()

    val plainLoop = new Loop(root)
    val plain = mutable.ArrayBuffer.empty[DayRecord]
    if (!a.trace) {
      forDays(first, a.seconds)(day => plain ++= oneDay(plainLoop, day, runDaily))
      report(plain.toSeq, root)
      rec.opS ++= plain.map(_.wallS)
      rec.scored += plain.map(_.scored).sum
      rec.info("txn_per_s") = plain.map(_.txn).sum / plain.map(_.wallS).sum
      rec.info("write_amp") =
        median(plain.toSeq.map(d => d.writtenBytes.toDouble / d.stagingAppendBytes))
    } else {
      // each day runs twice, alternating: through runDaily on one store,
      // then through the traced steps on a copy; both must write the same
      // predicted_clv, and the pair's time difference is the tracing cost
      val traced = a.work.resolve("store-traced")
      Store.copyTree(root, traced)
      val tracedLoop = new Loop(traced)
      val withSpans = mutable.ArrayBuffer.empty[DayRecord]
      val spans = mutable.ArrayBuffer.empty[Span]
      val t = new Tracer(spark.sparkContext)
      def tracedOne(day: Int) = {
        t.install()
        val q = oneDay(tracedLoop, day, (d, day) => {
          val df = tracedDay(t, d, day)
          spans += t.finished.last
          df
        })
        t.drain()
        t.uninstall()
        q
      }
      forDays(first, a.seconds) { day =>
        // which of the pair runs first alternates (see layers)
        val (p, q) =
          if (day % 2 == 0) { val p = oneDay(plainLoop, day, runDaily); (p, tracedOne(day)) }
          else { val q = tracedOne(day); (oneDay(plainLoop, day, runDaily), q) }
        for (p <- p; q <- q) {
          val diff = differingRows(Sources.readSnapshot(spark, plainLoop.d.predictedClv),
            Sources.readSnapshot(spark, tracedLoop.d.predictedClv))
          if (diff != 0)
            rec.fail(s"day $day: traced steps and Pipeline.runDaily wrote predicted_clv " +
              s"with $diff differing rows")
          if (p.digest != q.digest) rec.info("traced_exact_digest_differs") = true
          plain += p
          withSpans += q
        }
      }
      report(withSpans.toSeq, traced)
      layers(t, spans.toSeq, withSpans.toSeq, plain.toSeq)
    }
    checkHistory()
  }

  /** Per-day digests and storage figures for the record; the final stores
    * are what the output checks read. */
  private def report(days: Seq[DayRecord], root: Path): Unit = {
    val d = dirs(root)
    rec.info("days") = days.size
    rec.info("digests") = days.map(r =>
      Map("day" -> r.day, "scored" -> r.scored, "digest" -> r.digest, "sums" -> r.sums))
    rec.info("staging") = d.staging
    rec.info("features") = Sources.listVersions(d.features).last._2
    rec.info("features_root") = d.features
    rec.info("predicted_clv_root") = d.predictedClv
    rec.info("predicted_clv") = Sources.listVersions(d.predictedClv).last._2
    rec.info("last_as_of") = days.lastOption.map(r => asOf(r.day)).orNull
    rec.info("last_scored") = days.lastOption.map(_.scored).getOrElse(0L)
  }

  private def layers(t: Tracer, daySpans: Seq[Span], days: Seq[DayRecord],
      plain: Seq[DayRecord]): Unit = {
    val children = t.finished.groupBy(_.parent.map(_.id).getOrElse(-1L))
    def kids(day: Span) = children.getOrElse(day.id, Seq.empty).toSeq
    def layer(name: String, metrics: (String, Span => Double)*): Unit = {
      val per = daySpans.flatMap(kids).filter(_.name == name)
      rec.layers(s"${name}_s") = median(per.map(_.wallS))
      metrics.foreach { case (m, f) => rec.layers(s"$name.$m") = median(per.map(f)) }
    }
    val mb = 1024.0 * 1024.0
    val jobs = "jobs" -> ((s: Span) => s.jobs.toDouble)
    val driver = "driver_s" -> ((s: Span) => s.driverS)
    val execRun = "exec_run_s" -> ((s: Span) => s.execRunMs / 1e3)
    val shuffle = "shuffle_write_mb" -> ((s: Span) => s.shuffleWriteBytes / mb)
    val write = "write_mb" -> ((s: Span) => s.writeBytes / mb)
    layer("io.registry_max", jobs, driver)
    layer("io.append_staging", jobs, execRun, write)
    layer("io.append_registry", jobs)
    layer("rfm.features_write", jobs, shuffle,
      "spill_mb" -> (s => s.spillBytes / mb), execRun,
      "gc_s" -> (s => s.gcMs / 1e3), driver)
    layer("firewall.validate", jobs, shuffle, execRun, driver)
    layer("clv.fit", jobs, "result_kb" -> (s => s.resultBytes / 1024.0), execRun, driver)
    layer("clv.score_write", jobs, execRun, write)
    def inclusive(day: Span) = day +: kids(day)
    rec.layers("day.jobs") = median(daySpans.map(inclusive(_).map(_.jobs).sum.toDouble))
    rec.layers("day.tasks") = median(daySpans.map(inclusive(_).map(_.tasks).sum.toDouble))
    rec.layers("day.gc_s") = median(daySpans.map(inclusive(_).map(_.gcMs).sum / 1e3))
    rec.layers("day.residual_s") =
      median(daySpans.map(d => d.wallS - kids(d).map(_.wallS).sum))
    // the second run of a day reuses the first one's generated code, so
    // each pair is timed once in each order: the mean over an even number
    // of pairs cancels that out
    val pairs = days.zip(plain)
    val even = if (pairs.size < 2) pairs else pairs.take(pairs.size / 2 * 2)
    rec.layers("day.trace_overhead_s") =
      even.map { case (t, p) => t.wallS - p.wallS }.sum / even.size
    rec.layers("io.append_staging.txn_per_s") = days.map(_.txn).sum / days.map(_.wallS).sum
    rec.layers("io.store.write_amp") =
      median(days.map(d => d.writtenBytes.toDouble / d.stagingAppendBytes))
    days.lastOption.foreach { last =>
      rec.layers("io.store.staging_files") = last.stagingFiles
      rec.layers("io.store.staging_mb") = last.stagingBytes / mb
      rec.layers("io.store.snapshot_versions") = last.snapshotVersions
    }
  }

  private def median(xs: Seq[Double]): Double = Main.median(xs)
}

object Daily {
  /** The `runDaily` defaults: the reference's daily volume
    * (simulate_data.py). */
  val NewUsers = 10
  val ReturningUsers = 200
  /** Days of history set-up lays down: 100 days' batches. */
  val HistoryDays = 100
  /** Scores of one seed agree between runs only to the fit's tolerance.
    * RFM-T's average adds a customer's purchases in the order Spark reads
    * the staging files, which follows their random names, so
    * `monetary_value` moves by an ulp between runs; Nelder–Mead
    * (`xatol` 1e-7) then lands on parameters up to ~1e-8 apart. */
  val ScoreTolerance = 1e-6
  /** Untimed days before the first timed one; the first days of a JVM run
    * up to twice as slow while the JIT compiles. */
  val WarmupDays = 3
}
