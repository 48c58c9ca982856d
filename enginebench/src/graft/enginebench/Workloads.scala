package graft.enginebench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.gen.ChangeGen
import graft.lake.LakeTable
import graft.pipeline.CdcPipeline
import graft.sources.GzArchive
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Workloads share one load model: a closed loop with one caller on the
  * driver thread. The next call is issued only after the previous one
  * returns, as foreachBatch does. Inputs come from `ChangeGen` with the run's
  * seed and are written to parquet during set-up, so the engine only ever
  * reads the generated log.
  */
private object Common {
  val AppId = "enginebench"

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def fmt(v: Double, unit: String): String = f"$v%.4f $unit"

  /** The lake's current manifest, read straight from disk (no Hadoop call,
    * so it never shows in the file-op counts).
    */
  def manifest(lakeRoot: String): JsonNode = {
    val mapper = new ObjectMapper()
    val snap = mapper.readTree(new java.io.File(s"$lakeRoot/snapshot.json"))
    mapper.readTree(new java.io.File(s"$lakeRoot/${snap.get("manifest").asText}"))
  }

  /** Per-batch facts from a merge's manifest: (buckets touched, files
    * added, rows in added files) — None for a checkpoint manifest, which
    * records the live set instead of the change — and rows merged.
    */
  def mergeFacts(lakeRoot: String): (Option[(Int, Int, Long)], Long) = {
    import scala.jdk.CollectionConverters._
    val m = manifest(lakeRoot)
    val merged = Option(m.get("lineage")).map(_.elements().asScala.map(_.get("numEvents").asLong).sum).getOrElse(0L)
    val delta = if (!m.has("touched")) None else {
      val added = m.get("added").elements().asScala.toSeq
      Some((m.get("touched").size, added.size, added.map(_.get("num_records").asLong).sum))
    }
    (delta, merged)
  }

  /** Lake read as a user sees it: `read()` plans the live file set, the
    * digest scans it. Returns (digest, plan s, scan s).
    */
  def readLake(c: Ctx, lake: LakeTable): Option[((Long, Long), Double, Double)] =
    for {
      df <- c.op("lake.read")(lake.read())
      plan = c.lastS
      d <- c.op("lake.read.scan")(Ctx.digest(df))
    } yield (d, plan, c.lastS)
}

/** `tail`: the streaming tail. A preloaded table takes many small
  * uniform-key micro-batches, each touching a fraction of its buckets, in
  * identical cycles: two batches, the second of which re-sends part of the
  * first under a new batchId (the watermark gate drops it); a redelivery of
  * the second under its own batchId (fenced); then journal truncate and
  * lake vacuum. One timed cycle also holds a cold
  * restart and a same-layout compaction. Per-batch fixed cost sets
  * freshness here.
  */
object Tail {
  val Partitions = 8
  val SubBuckets = 16
  val Keys = 4096
  val PreloadEvents = 8000L
  val PreloadBatches = 1
  val PerPartition = 4     // offsets per partition in one micro-batch: 32 events
  val Overlap = 2          // offsets per partition a cycle's last batch re-sends
  val BatchesPerCycle = 2
  val WarmupCycles = 3     // with the preload, seven batches: a fresh JVM runs its first batches slow
  val EventCycle = 1       // the timed cycle with the cold restart (before its second batch) and the compaction
  val MinCycles = 4
  val FixedCycles = 6      // traced (and --fixed) runs: 12 batches
  val MaxCycles = 100
  val Reads = 8

  def run(c: Ctx): Unit = {
    import Common._
    import Ctx.median
    val spark = c.spark
    val root = s"${c.dir}/tail"
    val (lakeRoot, journalRoot) = (s"$root/lake", s"$root/journal")
    import Ctx.lowerQuartile
    val base = PreloadEvents / Partitions // first tail offset of every partition
    c.trace.span("setup.input") {
      ChangeGen.changes(spark, PreloadEvents, nKeys = Keys, partitions = Partitions, seed = c.seed)
        .write.parquet(s"$root/input/preload")
      // a second log over the same key space: its own seed, offsets continuing past the preload
      ChangeGen.changes(spark, (WarmupCycles + MaxCycles).toLong * BatchesPerCycle * PerPartition * Partitions,
        nKeys = Keys, partitions = Partitions, seed = c.seed * 31 + 7, startOffset = base)
        .write.parquet(s"$root/input/tail")
    }
    val preload = spark.read.parquet(s"$root/input/preload")
    val tail = spark.read.parquet(s"$root/input/tail")
    def slice(lo: Long, hi: Long): DataFrame =
      tail.filter(col("offset") >= base + lo && col("offset") < base + hi)
    if (c.traced) {
      CountingFileSystem.register("lake", lakeRoot)
      CountingFileSystem.register("journal", journalRoot)
    }
    def pipeline() = new CdcPipeline(spark, journalRoot, lakeRoot, chunkBytes = 1L << 20,
      subBuckets = SubBuckets, appId = AppId)
    var p = pipeline()

    val applyS, replayS, maintS, truncS, vacuumS = ArrayBuffer.empty[Double]
    val cycleS, cycleSpe, cycleCpu = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[Map[String, Double]]
    val touched, filesAdded = ArrayBuffer.empty[Double]
    var restartS: Option[Double] = None
    var submitted, merged, rowsAdded, fenced, filesDeleted = 0L
    var lakeMetaOps, journalCreates = 0L
    var pos = 0L    // next tail offset of every partition, past `base`
    var nextId = 0L
    var batches = 0

    /** Cycle `k` of the loop; `timed` cycles feed the metrics. */
    def cycle(k: Int, timed: Boolean): Unit = {
      for (b <- 0 until BatchesPerCycle) {
        val restart = timed && k == EventCycle && b == 1
        if (restart) c.op("pipeline.restart") { p = pipeline() } // a new pipeline on the same roots and appId
        val last = b == BatchesPerCycle - 1
        val lo = if (last) pos - Overlap else pos
        pos += PerPartition
        val batch = slice(lo, pos)
        val id = nextId
        nextId += 1
        val fsBefore = CountingFileSystem.snapshot()
        c.op(if (restart) "pipeline.applyBatch.restart" else "pipeline.applyBatch")(p.applyBatch(batch, id))
        val events = (pos - lo) * Partitions
        if (timed) {
          if (restart) restartS = Some(c.lastS) else applyS += c.lastS
          submitted += events
          batches += 1
          if (c.traced) {
            val d = CountingFileSystem.delta(CountingFileSystem.snapshot(), fsBefore)
            lakeMetaOps += CountingFileSystem.ops.map(o => d.getOrElse(s"lake.$o", 0L)).sum
            journalCreates += d.getOrElse("journal.create", 0L)
            phases += LakeTable.phaseSnapshotAndReset()
            val (delta, n) = c.probe(mergeFacts(lakeRoot))
            merged += n
            delta.foreach { case (t, a, rows) => touched += t; filesAdded += a; rowsAdded += rows }
          }
        }
        if (last) {
          // redeliver the batch under its own batchId: the epoch fence must make it a no-op
          val v0 = c.probe(p.lake.currentVersion)
          c.op("pipeline.applyBatch.replay")(p.applyBatch(batch, id))
          val v1 = c.probe(p.lake.currentVersion)
          c.check(v1 == v0, s"redelivered batch $id committed lake version $v1 over $v0")
          if (timed) {
            replayS += c.lastS
            submitted += events
            if (v1 == v0) fenced += 1
          }
        }
      }
      c.op("journal.truncate")(p.journal.truncate(p.lake.watermarks(), 0L))
      var passS = c.lastS
      if (timed) truncS += c.lastS
      if (timed && k == EventCycle) {
        c.op("lake.compact")(p.lake.compact(SubBuckets))
        passS += c.lastS
      }
      c.op("lake.vacuum")(p.lake.vacuum(2, 0L)).foreach(r => if (timed) filesDeleted += r._1)
      if (timed) {
        vacuumS += c.lastS
        maintS += passS + c.lastS
      }
    }

    // preload and warm-up cycles: the first batches of a fresh JVM run slow,
    // and a long-running stream pays that once
    c.trace.span("setup.preload")(p.runBatches(preload, PreloadBatches))
    nextId = PreloadBatches.toLong
    for (k <- 0 until WarmupCycles) c.trace.span("setup.warmup")(cycle(k, timed = false))
    LakeTable.phaseSnapshotAndReset()

    val timed0 = pos
    var k = 0
    c.startTimed()
    while (k < MaxCycles && c.more(k, MinCycles, FixedCycles, lowerQuartile(cycleS.toSeq))) {
      val (t, cpu, before) = (System.nanoTime(), Ctx.processCpuNs(), submitted)
      cycle(k, timed = true)
      val (s, events) = ((System.nanoTime() - t) / 1e9, (submitted - before).toDouble)
      cycleS += s
      cycleSpe += s / events
      cycleCpu += (Ctx.processCpuNs() - cpu) / 1e9 / (events / 1e6)
      k += 1
    }
    val reads = (1 to Reads).flatMap(_ => readLake(c, p.lake))
    c.stopTimed()

    // oracle over everything applied: the preload and the tail up to `pos`
    // (redeliveries repeat events already in it)
    val input = preload.unionByName(tail.filter(col("offset") < base + pos))
    val want = ChangeGen.oracleFinalState(input)
    val wantDigest = Ctx.digest(want)
    reads.foreach { case (d, _, _) => c.check(d == wantDigest, s"lake digest $d != oracle $wantDigest") }
    val (missing, extra) = Ctx.mismatch(p.lake.read(), want)
    c.mismatchRows = missing + extra
    val loopBytes = Ctx.logicalBytes(slice(timed0, pos))
    val stateBytes = Ctx.logicalBytes(want)
    val readS = reads.map { case (_, plan, scan) => plan + scan }
    val allBatches = applyS.toSeq ++ restartS

    c.e2e("setup_s") = c.setupS
    // timings: the lower quartile of the samples, the part of the run a
    // neighbour's burst of load on the host touched least
    c.e2e("ingest_eps") = 1 / lowerQuartile(cycleSpe.toSeq)
    c.e2e("batch_p25_s") = lowerQuartile(allBatches)
    c.e2e("read_s") = lowerQuartile(readS)
    c.e2e("write_amp") = c.timedBytesWritten.toDouble / loopBytes
    c.e2e("space_amp") = (Ctx.bytesUnder(lakeRoot) + Ctx.bytesUnder(journalRoot)).toDouble / stateBytes
    c.e2e("cpu_s_per_mevent") = lowerQuartile(cycleCpu.toSeq)

    c.report("setup_s") = fmt(c.setupS, "s")
    c.report("ingest_eps") = fmt(c.e2e("ingest_eps"), "1/s") +
      s" per lower-quartile cycle ($submitted events, $k cycles, $batches batches, ${replayS.size} replays;" +
      s" cycle s: ${cycleS.map(x => f"$x%.2f").mkString(" ")}; cycle $EventCycle restarts and compacts)"
    c.report("batch_p25_s") = fmt(lowerQuartile(allBatches), "s") +
      s" (n=${allBatches.size}: ${allBatches.map(x => f"$x%.2f").mkString(" ")})"
    c.report("batch_p50_s") = fmt(median(allBatches), "s")
    c.report("batch_tail_s") = Ctx.tailPercentile(allBatches)
      .map { case (pct, v) => fmt(v, "s") + s" (p$pct, n=${allBatches.size})" }
      .getOrElse(s"n/a (n=${allBatches.size}; needs more than 10 batches)")
    c.report("maintenance_s") = fmt(maintS.sum, "s") + s" (${maintS.size} truncate+vacuum passes, one with compact)"
    c.report("lake_read_s") = fmt(lowerQuartile(readS), "s") + s" (median ${fmt(median(readS), "s")})"
    c.report("archive_write_eps") = "n/a (archive workload)"
    c.report("archive_read_eps") = "n/a (archive workload)"
    c.report("write_amp") = fmt(c.e2e("write_amp"), "ratio")
    c.report("space_amp") = fmt(c.e2e("space_amp"), "ratio")
    c.report("cpu_s_per_mevent") = fmt(c.e2e("cpu_s_per_mevent"), "s/Mevent") +
      f" per lower-quartile cycle (whole timed section: ${c.timedCpuS / (submitted / 1e6)}%.1f)"

    if (c.traced) {
      val buckets = (Partitions * SubBuckets).toDouble
      c.report("buckets_touched_frac") = f"${mean(touched.toSeq) / buckets}%.4f of $buckets%.0f buckets"
      c.layer("pipeline.apply_batch_s") = median(applyS.toSeq)
      c.layer("pipeline.restart_batch_s") = restartS.getOrElse(0.0)
      c.layer("pipeline.replays_fenced") = fenced.toDouble
      c.layer("pipeline.rows_gated") = (submitted - merged).toDouble
      c.layer("pipeline.applied_ratio") = merged.toDouble / submitted
      for (ph <- Seq("stats", "write", "promote", "commit"))
        c.layer(s"lake.merge.${ph}_s") = median(phases.toSeq.flatMap(_.get(ph)))
      c.layer("lake.merge.files_written_per_batch") = mean(filesAdded.toSeq)
      c.layer("lake.merge.buckets_touched_frac") = mean(touched.toSeq) / buckets
      c.layer("lake.rewrite_amp") = rowsAdded.toDouble / merged
      c.layer("journal.bytes_written") = c.timedFs.getOrElse("journal.bytes_written", 0L).toDouble
      c.layer("journal.files_per_batch") = journalCreates.toDouble / batches
      c.layer("journal.truncate_s") = median(truncS.toSeq)
      c.layer("lake.vacuum_s") = median(vacuumS.toSeq)
      c.layer("lake.compact_s") = median(c.trace.seconds("lake.compact"))
      c.layer("lake.files_deleted") = filesDeleted.toDouble
      c.layer("lake.read.plan_s") = median(reads.map(_._2))
      c.layer("lake.read.scan_s") = median(reads.map(_._3))
      c.layer("fs.lake.meta_ops_per_batch") = lakeMetaOps.toDouble / batches
      c.commonLayers(batches)
    }
  }
}

/** `archive`: the connector-migration path. Block-gzip write with a date
  * prefix, a small chunk threshold and file rolling, then cursor recovery,
  * a committed full read with decode, and index-pruned resume from
  * mid-partition floors. No lake or journal code runs: this is the
  * no-change control for lake work, and the lake workloads are its control.
  */
object Archive {
  val Partitions = 8
  val Events = 24000L
  val Keys = 2400
  val ChunkBytes = 16L * 1024
  val RecordsPerFile = 1000L  // three files per partition
  val Topic = "events"
  val DatePrefix = "2024/01/01"
  val WarmupCycles = 2
  val ReadsPerCycle = 2
  val MinCycles = 5
  val FixedCycles = 6         // traced (and --fixed) runs

  /** Per-partition (count, min offset, max offset, checksum) of records
    * carrying `partition`, `offset` and the record line in `lineCol`.
    */
  private def profile(df: DataFrame, lineCol: String): Map[Int, (Long, Long, Long, Long)] = {
    val h = conv(substring(sha2(col(lineCol), 256), 1, 10), 16, 10).cast("long")
    df.groupBy(col("partition")).agg(count(lit(1)), min(col("offset")), max(col("offset")), sum(h))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  def run(c: Ctx): Unit = {
    import Common._
    import Ctx.{lowerQuartile, median}
    val spark = c.spark
    val root = s"${c.dir}/archive"
    c.trace.span("setup.input")(ChangeGen.changes(spark, Events, nKeys = Keys,
      partitions = Partitions, seed = c.seed).write.parquet(s"$root/input/log"))
    val log = spark.read.parquet(s"$root/input/log")
    // one text record per event; offsets and partitions are the archive's own coordinates
    val lines = log.select(col("partition"), col("offset"),
      concat_ws("\t", col("op"), col("repo"), col("path"), coalesce(col("commit"), lit("")),
        col("lang"), coalesce(col("content"), lit(""))).as("line"))
    val full = c.trace.span("setup.oracle")(profile(lines, "line"))
    val floors = full.map { case (p, (n, lo, _, _)) => p -> (lo + n / 2) }
    val suffix = c.trace.span("setup.oracle")(
      profile(lines.filter(col("offset") > element_at(typedLit(floors), col("partition"))), "line"))
    val logBytes = c.trace.span("setup.oracle")(Ctx.logicalBytes(log))

    def write(df: DataFrame, dir: String): Unit = GzArchive.writeArchive(df, dir, Topic, "offset",
      chunkThreshold = ChunkBytes, recordsPerFile = RecordsPerFile, datePrefix = DatePrefix)
    // warm-up: the first cycles of a fresh JVM run slow, so set-up runs
    // whole cycles into throwaway roots
    for (w <- 0 until WarmupCycles) c.trace.span("setup.warmup") {
      val dir = s"$root/warmup$w"
      write(lines, dir)
      GzArchive.fetchOffsets(spark, dir, Topic)
      for (_ <- 1 to ReadsPerCycle) profile(GzArchive.readCommitted(spark, dir, Topic), "value")
      profile(GzArchive.readFrom(spark, dir, floors), "value")
      Ctx.deleteTree(dir)
    }

    val writeS, fetchS, readS, fromS, cycleS, cycleCpu = ArrayBuffer.empty[Double]
    var opensOnResume = 0L
    var n = 0
    c.startTimed()
    while (c.more(n, MinCycles, FixedCycles, lowerQuartile(cycleS.toSeq))) {
      val (t, cpu) = (System.nanoTime(), Ctx.processCpuNs())
      if (n > 0) c.probe(Ctx.deleteTree(s"$root/c${n - 1}"))
      val dir = s"$root/c$n"
      if (c.traced) CountingFileSystem.register("archive", dir)
      c.op("archive.writeArchive")(write(lines, dir))
      writeS += c.lastS
      c.op("archive.fetchOffsets")(GzArchive.fetchOffsets(spark, dir, Topic)).foreach { next =>
        c.check(next == full.map { case (p, (_, _, hi, _)) => p -> (hi + 1) },
          s"fetchOffsets $next disagrees with the log")
      }
      fetchS += c.lastS
      for (_ <- 1 to ReadsPerCycle) {
        c.op("archive.readCommitted")(profile(GzArchive.readCommitted(spark, dir, Topic), "value")).foreach { got =>
          c.check(got == full, s"committed read profile $got != input $full")
        }
        readS += c.lastS
      }
      val before = CountingFileSystem.snapshot()
      c.op("archive.readFrom")(profile(GzArchive.readFrom(spark, dir, floors), "value")).foreach { got =>
        c.check(got == suffix, s"readFrom profile $got != input suffix $suffix")
      }
      fromS += c.lastS
      opensOnResume += CountingFileSystem.delta(CountingFileSystem.snapshot(), before).getOrElse("archive.open_gz", 0L)
      cycleS += (System.nanoTime() - t) / 1e9
      cycleCpu += (Ctx.processCpuNs() - cpu) / 1e9 / (Events / 1e6)
      n += 1
    }
    c.stopTimed()
    val dir = s"$root/c${n - 1}"
    val (chunks, gzBytes) = c.probe(chunkStats(dir))

    val events = Events * n
    c.e2e("setup_s") = c.setupS
    // timings: lower quartiles, as on `tail`
    c.e2e("ingest_eps") = Events / lowerQuartile(cycleS.toSeq)
    c.e2e("batch_p25_s") = lowerQuartile(writeS.toSeq)
    c.e2e("read_s") = lowerQuartile(readS.toSeq)
    c.e2e("write_amp") = c.timedBytesWritten.toDouble / (logBytes * n)
    c.e2e("space_amp") = Ctx.bytesUnder(dir).toDouble / logBytes
    c.e2e("cpu_s_per_mevent") = lowerQuartile(cycleCpu.toSeq)

    c.report("setup_s") = fmt(c.setupS, "s")
    c.report("ingest_eps") = fmt(c.e2e("ingest_eps"), "1/s") +
      s" per lower-quartile cycle (write, fetchOffsets, reads, readFrom; n=${cycleS.size}: ${cycleS.map(x => f"$x%.2f").mkString(" ")})"
    c.report("batch_p25_s") = fmt(c.e2e("batch_p25_s"), "s") +
      s" per writeArchive (n=${writeS.size}: ${writeS.map(x => f"$x%.2f").mkString(" ")})"
    c.report("batch_p50_s") = fmt(median(writeS.toSeq), "s")
    c.report("batch_tail_s") = s"n/a (tail workload)"
    c.report("maintenance_s") = "n/a (lake workloads)"
    c.report("lake_read_s") = "n/a (lake workloads)"
    c.report("archive_write_eps") = fmt(Events / median(writeS.toSeq), "1/s") + s" ($n cycles of $Events events)"
    c.report("archive_read_eps") = fmt(Events / median(readS.toSeq), "1/s")
    c.report("write_amp") = fmt(c.e2e("write_amp"), "ratio")
    c.report("space_amp") = fmt(c.e2e("space_amp"), "ratio")
    c.report("cpu_s_per_mevent") = fmt(c.e2e("cpu_s_per_mevent"), "s/Mevent") +
      f" per lower-quartile cycle (whole timed section: ${c.timedCpuS / (events / 1e6)}%.1f)"

    if (c.traced) {
      c.layer("archive.write_s") = median(writeS.toSeq)
      c.layer("archive.fetch_offsets_s") = median(fetchS.toSeq)
      c.layer("archive.read_s") = median(readS.toSeq)
      c.layer("archive.read_from_s") = median(fromS.toSeq)
      c.layer("archive.chunks_total") = chunks.toDouble
      c.layer("archive.resume_prune_ratio") = opensOnResume.toDouble / n / chunks
      c.layer("archive.gz_bytes") = gzBytes.toDouble
      c.commonLayers(0)
    }
  }

  /** (chunks in every index file, bytes of every .gz data file) under a root. */
  private def chunkStats(dir: String): (Long, Long) = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(new java.io.File(dir)).filterNot(_.getName.startsWith("."))
    val chunks = all.filter(_.getName.endsWith(".index.json")).map { f =>
      GzArchive.parseIndex(java.nio.file.Files.readString(f.toPath)).chunks.size.toLong
    }.sum
    (chunks, all.filter(_.getName.endsWith(".gz")).map(_.length).sum)
  }
}
