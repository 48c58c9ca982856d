package graft.enginebench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Entry point of one benchmark run, in a fresh JVM:
  *
  *   graft.enginebench.Main --workload tail|archive --seed N
  *     --seconds S --trace 0|1 [--fixed 0|1] --dir WORKDIR
  *
  * Every table, Spark scratch file and trace artifact goes under WORKDIR.
  * `--fixed 1` runs the traced run's fixed iteration count without tracing,
  * the baseline for tracing overhead. The last stdout line is
  * `RESULT {json}` with the run's verdict and the end-to-end metrics
  * (`--trace 0`) or per-layer metrics (`--trace 1`) it measured, by name;
  * the lines before it are a human-readable report. Exit code 1 when the
  * final state disagrees with the oracle or an operation failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val ctx = new Ctx(a("dir"), a.getOrElse("seed", "1").toLong, a.getOrElse("seconds", "10").toInt,
      a.getOrElse("trace", "0") == "1", a.getOrElse("fixed", "0") == "1")
    val run: Ctx => Unit = workload match {
      case "tail" => Tail.run
      case "archive" => Archive.run
      case other => sys.error(s"unknown workload '$other' (tail, archive)")
    }
    try {
      run(ctx)
      ctx.finish(workload)
    } finally ctx.spark.stop()
    System.out.flush()
    if (!ctx.correct) sys.exit(1)
  }
}

/** Shared state of one run: the session, the span trace, the operation
  * ledger (attempted / failed), and the metric sinks.
  */
final class Ctx(val dir: String, val seed: Long, val seconds: Int, val traced: Boolean,
    fixedCount: Boolean) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val cores: Int = Runtime.getRuntime.availableProcessors
  val trace = new Trace

  /** JVM start to a ready session, in seconds. */
  var sessionS = 0.0

  val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-enginebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    s
  }

  val listener: Option[LayerListener] = if (!traced) None else {
    // drop any `file:` instance cached before the session's Hadoop conf
    // existed, so every later lookup builds the counting one
    FileSystem.closeAll()
    CountingFileSystem.selfCheck(
      new Path(s"$dir/fs-selfcheck").getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$dir/fs-selfcheck")
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    Some(l)
  }

  // ---- operation ledger --------------------------------------------------

  var attempted = 0L
  var failed = 0L
  var mismatchRows = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def correct: Boolean = failed == 0 && mismatchRows == 0

  /** One timed operation: a span, counted as attempted; an exception marks
    * it failed and the run goes on (the final oracle check then decides).
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t = System.nanoTime()
    try Some(trace.span(name)(body))
    catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$name: $e")
        None
    } finally lastS = (System.nanoTime() - t) / 1e9
  }

  /** Wall seconds of the last [[op]]. */
  var lastS = 0.0

  def fail(what: String): Unit = { failed += 1; failures += what }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  // ---- timed window --------------------------------------------------------

  private var t0Ns = 0L
  private var t0Ms = 0L
  private var t1Ms = 0L
  private var cpu0 = 0L
  private var written0 = 0L
  private var fs0 = Map.empty[String, Long]
  private var codegen0 = (0L, 0.0)
  private var cpuTicks0 = (0L, 0L)
  var setupS = 0.0
  var timedCpuS = 0.0
  var timedBytesWritten = 0L
  var timedFs = Map.empty[String, Long]
  var codegen = (0L, 0.0)

  /** Marks the end of set-up: everything from JVM start to here is billed to
    * `setup_s`, and the window's counters start here.
    */
  def startTimed(): Unit = {
    t0Ns = System.nanoTime()
    t0Ms = System.currentTimeMillis()
    setupS = (t0Ms - jvmStartMs) / 1e3
    cpu0 = Ctx.processCpuNs()
    written0 = Ctx.fileBytesWritten()
    fs0 = CountingFileSystem.snapshot()
    codegen0 = Ctx.codegen()
    cpuTicks0 = Ctx.cpuTicks()
  }

  def elapsedS: Double = (System.nanoTime() - t0Ns) / 1e9

  /** A traced run, and an untraced one asked to match it, does a fixed
    * number of iterations: counters then repeat exactly, and the two runs
    * do the same work.
    */
  val fixed: Boolean = traced || fixedCount

  /** Keep looping: always until `min` iterations, then while the next
    * iteration (`iterS` long) would end closer to the deadline than not; a
    * [[fixed]] run does exactly `count` iterations.
    */
  def more(done: Int, min: Int, count: Int, iterS: Double = 0.0): Boolean =
    if (fixed) done < count else done < min || elapsedS + iterS / 2 < seconds

  def stopTimed(): Unit = {
    t1Ms = System.currentTimeMillis()
    timedCpuS = (Ctx.processCpuNs() - cpu0) / 1e9
    timedBytesWritten = Ctx.fileBytesWritten() - written0
    timedFs = CountingFileSystem.delta(CountingFileSystem.snapshot(), fs0)
    val c = Ctx.codegen()
    codegen = (c._1 - codegen0._1, c._2 - codegen0._2)
    val t = Ctx.cpuTicks()
    stealShare = (t._2 - cpuTicks0._2).toDouble / math.max(1L, t._1 - cpuTicks0._1)
  }

  /** Share of the machine's CPU time the hypervisor took from this VM in
    * the timed window (0 on bare metal): context for a slow run.
    */
  var stealShare = 0.0

  /** Bench-side metadata probes run with file-op counting paused. */
  def probe[T](body: => T): T = {
    CountingFileSystem.paused = true
    try body finally CountingFileSystem.paused = false
  }

  // ---- metrics -------------------------------------------------------------

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The full named report (all fourteen end-to-end metrics, "n/a" where a
    * metric does not apply to the workload) printed above the result line.
    */
  val report = mutable.LinkedHashMap.empty[String, String]

  /** Per-layer numbers every workload reports from the listener and the
    * counting file system; workload-specific ones are added by the workload.
    */
  def commonLayers(batches: Int): Unit = {
    for (root <- Seq("lake", "journal", "archive");
         k <- CountingFileSystem.ops ++ CountingFileSystem.byteKinds)
      layer(s"fs.$root.$k") = timedFs.getOrElse(s"$root.$k", 0L).toDouble
    val l = listener.get
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val sum = l.summary(t0Ms, t1Ms, trace.spanAt)
    for (name <- LayerListener.layers) {
      val t = sum.layers.getOrElse(name, new l.LayerTotals)
      layer(s"spark.$name.jobs") = t.jobs.toDouble
      layer(s"spark.$name.stages") = t.stages.toDouble
      layer(s"spark.$name.tasks") = t.tasks.toDouble
      layer(s"spark.$name.shuffle_write_bytes") = t.shuffleWrite.toDouble
      layer(s"spark.$name.shuffle_read_bytes") = t.shuffleRead.toDouble
      layer(s"spark.$name.spill_bytes") = t.spill.toDouble
      layer(s"spark.$name.executor_cpu_s") = t.cpuNs / 1e9
      layer(s"spark.$name.executor_run_s") = t.runMs / 1e3
      layer(s"spark.$name.gc_s") = t.gcMs / 1e3
    }
    layer("journal.stage_busy_s") =
      sum.layers.get("journal").map(_.busyS).getOrElse(0.0) / math.max(1, batches)
    layer("spark.executor_busy_share") = sum.executorRunS / (cores * math.max(1e-3, (t1Ms - t0Ms) / 1e3))
    layer("spark.task_skew") = sum.taskSkew
    layer("spark.codegen.compiles") = codegen._1.toDouble
    layer("spark.codegen.compile_s") = codegen._2
  }

  /** Print the report and the result line; dump the spans when traced. */
  def finish(workload: String): Unit = {
    e2e("peak_rss_mb") = Ctx.peakRssMb()
    report("peak_rss_mb") = f"${Ctx.peakRssMb()}%.1f MB"
    report("oracle_mismatch_rows") = s"$mismatchRows rows"
    report("failed_ops_ratio") = s"${if (attempted == 0) 0.0 else failed.toDouble / attempted} ($failed/$attempted)"
    println(s"== enginebench $workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")
    report.foreach { case (k, v) => println(f"  $k%-22s $v") }
    val setup = trace.all.filter(_.name.startsWith("setup.")).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (k, ss) => f"$k=${ss.map(_.seconds).sum}%.2f" }
    println(f"  setup breakdown        session=$sessionS%.2f ${setup.mkString(" ")}")
    println(f"  run breakdown          setup=$setupS%.2f timed=${(t1Ms - t0Ms) / 1e3}%.2f " +
      f"checks=${(System.currentTimeMillis() - t1Ms) / 1e3}%.2f cpu_steal_share=$stealShare%.3f")
    failures.take(20).foreach(f => println(s"  FAILED: $f"))
    if (traced) {
      e2e.foreach { case (k, v) => println(f"  traced e2e $k%-18s $v") }
      trace.write(new java.io.File(s"$dir/spans-$workload.jsonl"))
    }
    // the metrics measured, by name; BENCHMARK.json gives their order and
    // units, and the launcher fills in the layers a workload never entered
    val metrics = (if (traced) layer else e2e).filter { case (_, v) => !v.isNaN && !v.isInfinite }
      .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    println(s"""RESULT {"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$metrics}}""")
  }
}

object Ctx {
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Bytes written through Hadoop's `file` scheme (data and `.crc` files),
    * from the file systems' built-in statistics: no tracing needed.
    */
  @annotation.nowarn("cat=deprecation")
  def fileBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** (compiles, compile seconds) from Spark's codegen histograms. The
    * histogram keeps a sample reservoir, so seconds are count × mean.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1e3)
  }

  /** (all, steal) jiffies of the machine from /proc/stat; zeros elsewhere. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The lower quartile, interpolated between the two nearest ranks (as
    * numpy's default and Python's `statistics.quantiles(method="inclusive")`).
    */
  def lowerQuartile(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = (s.size - 1) / 4.0
      val i = pos.toInt
      if (i + 1 < s.size) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
    }

  /** The highest whole percentile with at least ten samples above it, and
    * its value (nearest rank); None below 11 samples.
    */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size <= 10) None else {
      val n = xs.size
      val p = (100 * (n - 10)) / n
      val s = xs.sorted
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Some((p, s(rank - 1)))
    }

  /** Bytes on disk under a directory tree (data, metadata and `.crc`). */
  def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  /** Logical bytes of a frame: UTF-8 bytes of its strings plus 4 per int
    * and 8 per long column.
    */
  def logicalBytes(df: DataFrame): Long = {
    val per = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case IntegerType => lit(4L)
        case LongType => lit(8L)
        case _ => lit(0L)
      }
    }.reduce(_ + _)
    df.agg(coalesce(sum(per), lit(0L))).first().getLong(0)
  }

  /** Final-state rows as (repo, path, sha256(content)). */
  def keyed(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), sha2(coalesce(col("content"), lit("")), 256).as("sha"))

  /** Order-free digest of a final state: (rows, sum of a 40-bit prefix of
    * each row's sha256). One scan; the same expression on both sides.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = conv(substring(sha2(concat_ws("\u0000", col("repo"), col("path"), col("sha")), 256), 1, 10), 16, 10)
    val r = keyed(df).agg(count(lit(1)), coalesce(sum(h.cast("long")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Rows missing from `got` plus rows extra in it, by (repo, path, sha256). */
  def mismatch(got: DataFrame, want: DataFrame): (Long, Long) = {
    val g = keyed(got)
    val w = keyed(want)
    (w.exceptAll(g).count(), g.exceptAll(w).count())
  }
}
