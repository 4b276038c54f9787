package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.streaming.{DwsWindows, LogSplitter, StatefulOps}
import graft.streaming.StatefulOps.{KeyedEvent, PageView}

/** The `realtime` workload: the `events` table rendered as gmall page-log
  * lines and replayed through the ODS → DWD → DWS path as three file-source
  * streams, one after another. A trigger reads one staged file and the
  * next trigger starts only after the previous one committed, so the
  * workload measures capacity at a fixed batch size.
  *
  * The seed displaces every event by up to 1.5 s (inside the 2 s
  * watermark) and holds 1% of the events back by one file, so those rows
  * arrive behind the watermark. Each job's sink is compared with a
  * reference computed here, in plain Scala, from the same staged files and
  * the engine's watermark rules. */
object StreamBench {
  val scale = "sf0.1"
  val files = 6
  val perFile = 3000
  val jitterMs = 1500
  val lateShare = 0.01
  val watermarkMs = 2000L
  val windowMs = 10000L
  val bounceTimeoutMs = 10000L
  val jobs = Seq("page_window", "uv_dedup", "user_jump")
  /** Nominal cycle time on a 4-core machine: `--seconds` buys
    * `seconds / cycleS` timed cycles, at least 1. */
  val cycleS = 13.0

  /** One staged page view, as the streams parse it back. */
  final case class Ev(mid: String, pageId: String, lastPageId: String,
                      isNew: String, ts: Long)

  // ------------------------------------------------------------- staging

  /** Renders the oldest `files * perFile` events as log lines and writes
    * them as `files` files into `dir`, oldest first; returns the events of
    * each file in file order. */
  def stage(spark: SparkSession, inputDir: String, dir: File, seed: Long): Seq[Seq[Ev]] = {
    val rows = graft.Tables.events(spark, inputDir)
      .select(col("event_id"), expr("unix_micros(ts) div 1000").as("ms"),
        col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id")).limit(files * perFile)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // page chain: an event continues the user's session when the previous
    // event came less than 30 minutes before it
    val last = mutable.Map.empty[Long, (Long, String)]
    val rnd = new scala.util.Random(seed)
    val evs = rows.map { case (_, ms, uid, typ) =>
      val prev = last.get(uid)
      last(uid) = (ms, typ)
      val lastPage = prev.filter(p => ms - p._1 < 30 * 60 * 1000).map(_._2).orNull
      Ev(s"mid_$uid", typ, lastPage, if (prev.isEmpty) "1" else "0",
        ms + math.round((rnd.nextDouble() * 2 - 1) * jitterMs))
    }
    // a smaller input (the smoke test's) still makes `files` files
    val chunks = evs.grouped(math.min(perFile, math.ceil(evs.length.toDouble / files).toInt))
      .map(_.toVector).toVector
    val (kept, held) = chunks.zipWithIndex.map { case (c, i) =>
      c.partition(_ => i == chunks.size - 1 || rnd.nextDouble() >= lateShare)
    }.unzip
    val staged = chunks.indices.map(i => kept(i) ++ (if (i > 0) held(i - 1) else Vector.empty))
    dir.mkdirs()
    val base = System.currentTimeMillis() - 3600 * 1000
    staged.zipWithIndex.foreach { case (evs, i) =>
      val f = new File(dir, f"part-$i%03d.json")
      Files.writeString(f.toPath, evs.map(line).mkString("", "\n", "\n"))
      // the file source takes files in modification-time order
      f.setLastModified(base + i * 1000L)
    }
    staged
  }

  private def line(e: Ev): String = {
    val last = Option(e.lastPageId).map(Json.quote).getOrElse("null")
    s"""{"common":{"mid":${Json.quote(e.mid)},"uid":${Json.quote(e.mid.stripPrefix("mid_"))},""" +
      s""""ch":"web","is_new":"${e.isNew}"},"page":{"page_id":${Json.quote(e.pageId)},""" +
      s""""last_page_id":$last,"during_time":1000},"ts":${e.ts}}"""
  }

  // ---------------------------------------------------------------- jobs

  private def pages(spark: SparkSession, dir: File): DataFrame =
    LogSplitter.pageStream(LogSplitter.parse(
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1)
        .text(dir.getPath), "value"))

  /** The job's streaming frame and its output mode. */
  private def job(spark: SparkSession, name: String, dir: File): (DataFrame, String) = {
    import spark.implicits._
    val p = pages(spark, dir)
    name match {
      case "page_window" =>
        (DwsWindows.tumblingAgg(
          p.select(col("page.page_id").as("page_id"), timestamp_millis(col("ts")).as("ts")),
          "ts", "10 seconds", Seq(col("page_id")), Seq(count(lit(1)).as("pv_ct")),
          Some("2 seconds")), "update")
      case "uv_dedup" =>
        (StatefulOps.dailyDedup(p.select(col("common.mid").as("key"), col("ts"),
          date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("date"))
          .as[KeyedEvent]).toDF(), "append")
      case "user_jump" =>
        (StatefulOps.bounceDetector(p.select(col("common.mid").as("mid"),
          col("page.page_id").as("pageId"), col("page.last_page_id").as("lastPageId"),
          col("common.is_new").as("isNew"), col("ts"),
          date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("date"))
          .withColumn("eventTime", timestamp_millis(col("ts")))
          .withWatermark("eventTime", "2 seconds")
          .as[PageView], bounceTimeoutMs).toDF(), "append")
    }
  }

  // ----------------------------------------------------------- reference

  /** Watermark in force for data batch `b`: the largest event time of the
    * earlier batches minus the delay (0 before the first). */
  private def watermarks(staged: Seq[Seq[Ev]]): Seq[Long] =
    staged.indices.map(b =>
      if (b == 0) 0L else math.max(0L, staged.take(b).flatten.map(_.ts).max - watermarkMs))

  private def fmtSec(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  private def date(ms: Long): String = fmtSec(ms).take(10)

  /** A job's expected sink: every row, rendered as a string and tagged
    * with the data batch that emits it, and the data batch at which the
    * engine's known defect (see [[knownDefect]]) stops the job, if any. */
  final case class Ref(rows: Seq[(Int, String)], defect: Option[Int]) {
    def all: Seq[String] = rows.map(_._2).sorted
    def before(batch: Int): Seq[String] = rows.filter(_._1 < batch).map(_._2).sorted
  }

  /** The error `StatefulOps.bounceDetector` stops with when it sets an
    * event-time timeout behind the watermark (README.md, "Known defect"). */
  val knownDefect = "FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR"

  /** Expected sink rows of job `name` over the staged batches. */
  def reference(name: String, staged: Seq[Seq[Ev]]): Ref = {
    val wm = watermarks(staged)
    name match {
      case "page_window" =>
        // update mode, as the engine runs it: every batch adds its rows to
        // the window's count and emits the new count; after the batch,
        // windows that ended at or before the watermark are evicted. A row
        // behind the watermark is not dropped: it re-opens its evicted
        // window, whose emitted count then starts again from zero.
        val state = mutable.Map.empty[(Long, String), Long]
        val emitted = mutable.Map.empty[(Long, String), (Int, Long)]
        staged.indices.foreach { b =>
          staged(b).groupBy(e => (Math.floorDiv(e.ts, windowMs) * windowMs, e.pageId))
            .foreach { case (k, es) =>
              state(k) = state.getOrElse(k, 0L) + es.size
              emitted(k) = (b, state(k))
            }
          state.keys.toSeq.filter(_._1 + windowMs <= wm(b)).foreach(state.remove)
        }
        Ref(emitted.toSeq.map { case ((start, page), (b, n)) =>
          b -> Seq(fmtSec(start), fmtSec(start + windowMs), page, n).mkString("|")
        }, None)
      case "uv_dedup" =>
        val lastDate = mutable.Map.empty[String, String]
        Ref(staged.zipWithIndex.flatMap { case (evs, b) =>
          evs.groupBy(_.mid).toSeq.flatMap { case (k, es) =>
            es.sortBy(_.ts).flatMap { e =>
              val d = date(e.ts)
              if (lastDate.get(k).contains(d)) None
              else { lastDate(k) = d; Some(b -> Seq(k, e.ts, d).mkString("|")) }
            }
          }
        }, None)
      case "user_jump" =>
        // held entry page and its timeout per mid. A held page whose
        // timeout already lies behind the watermark is a bounce in the same
        // batch, as the transformWithState twin (`BounceProcessor`) emits
        // it; `bounceDetector` instead stops at the first such page, which
        // `defect` records.
        val held = mutable.Map.empty[String, (Ev, Long)]
        val out = mutable.ArrayBuffer.empty[(Int, Ev)]
        var defect: Option[Int] = None
        staged.indices.foreach { b =>
          staged(b).groupBy(_.mid).foreach { case (mid, es) =>
            var h = held.get(mid).map(_._1)
            es.sortBy(_.ts).foreach { e =>
              val entry = e.lastPageId == null || e.lastPageId.isEmpty
              h match {
                case Some(x) if e.ts > x.ts + bounceTimeoutMs => out += b -> x
                case Some(x) if entry => out += b -> x
                case _ =>
              }
              h = if (entry) Some(e) else None
            }
            h match {
              case Some(x) =>
                if (x.ts + bounceTimeoutMs < wm(b) && defect.isEmpty) defect = Some(b)
                held(mid) = (x, x.ts + bounceTimeoutMs)
              case None => held.remove(mid)
            }
          }
          held.toSeq.foreach { case (mid, (x, to)) =>
            if (to < wm(b)) { out += b -> x; held.remove(mid) }
          }
        }
        // after the last file a batch without data moves the watermark on
        // and fires the timeouts it passed
        val last = staged.flatten.map(_.ts).max - watermarkMs
        held.values.foreach { case (x, to) => if (to < last) out += staged.size -> x }
        Ref(out.toSeq.map { case (b, e) => b -> Seq(e.mid, e.ts).mkString("|") }, defect)
    }
  }

  private def render(name: String, rows: Seq[(Long, Row)]): Seq[String] = name match {
    case "page_window" =>
      // update mode: the last emitted row of a window is its final count
      rows.groupBy { case (_, r) => (r.getAs[String]("stt"), r.getAs[String]("page_id")) }
        .values.map(_.maxBy(_._1)._2).map(r =>
          Seq(r.getAs[String]("stt"), r.getAs[String]("edt"), r.getAs[String]("page_id"),
            r.getAs[Long]("pv_ct")).mkString("|")).toSeq.sorted
    case "uv_dedup" =>
      rows.map { case (_, r) =>
        Seq(r.getAs[String]("key"), r.getAs[Long]("ts"), r.getAs[String]("date")).mkString("|")
      }.sorted
    case "user_jump" =>
      rows.map { case (_, r) => Seq(r.getAs[String]("mid"), r.getAs[Long]("ts")).mkString("|") }.sorted
  }

  // ----------------------------------------------------------------- run

  final case class JobRun(name: String, wallS: Double, progress: Seq[StreamingQueryProgress],
                          error: Option[String], matched: Boolean, stateMb: Double,
                          sstMb: Double)

  private def runJob(ctx: Ctx, name: String, dir: File, cycle: Int,
                     expect: Ref): JobRun = {
    val spark = ctx.spark
    val ckpt = new File(ctx.work, s"ckpt/$name-$cycle")
    val sink = mutable.ArrayBuffer.empty[(Long, Row)]
    val (df, mode) = job(spark, name, dir)
    val t0 = System.nanoTime()
    val q: StreamingQuery = df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.collect()
        sink.synchronized(rows.foreach(r => sink += ((id, r))))
      }
      .queryName(s"${name}_$cycle").start()
    val error = try { q.awaitTermination(); None }
      catch { case e: Throwable =>
        // the error class may sit on any cause in the chain
        Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse(x.toString)).mkString(" <- "))
      }
    val wallS = Stats.seconds(t0, System.nanoTime())
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val got = render(name, sink.synchronized(sink.toSeq))
    val matched = error match {
      case None => got == expect.all
      // the known defect only: the job stops with that error at the batch
      // the reference predicts, having emitted exactly the reference's rows
      // of the batches before it. Its remaining triggers count as failed.
      case Some(e) => e.contains(knownDefect) && expect.defect.contains(progress.size) &&
        got == expect.before(progress.size)
    }
    if (!matched)
      System.err.println(s"[perfbench] $name cycle $cycle: sink ${got.size} rows, " +
        s"expected ${expect.all.size}; defect expected at ${expect.defect}, " +
        s"stopped after ${progress.size} batches, error=${error.map(_.take(300))}")
    error.foreach(e => System.err.println(s"[perfbench] $name aborted: ${e.take(300)}"))
    val ops = progress.lastOption.toSeq.flatMap(_.stateOperators)
    val stateMb = ops.map(_.memoryUsedBytes).sum / 1e6
    val sstMb = ops.flatMap(o => Option(o.customMetrics.get("rocksdbSstFileSize")))
      .map(_.longValue).sum / 1e6
    JobRun(name, wallS, progress, error, matched, stateMb, sstMb)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    var inputDir = ""
    var stageDir: File = null
    var staged: Seq[Seq[Ev]] = Nil
    val repS = (1 to ctx.setupReps).map { rep =>
      val t0 = System.nanoTime()
      if (inputDir.nonEmpty) ctx.dropInput(inputDir)
      if (stageDir != null) Ctx.delete(stageDir)
      inputDir = ctx.stageInput(ctx.scale(scale), rep)
      stageDir = new File(ctx.work, s"stage_r$rep")
      staged = stage(spark, inputDir, stageDir, ctx.seed)
      Stats.seconds(t0, System.nanoTime())
    }
    val expect = jobs.map(j => j -> reference(j, staged)).toMap
    expect.foreach { case (j, r) =>
      r.defect.foreach(b => System.err.println(s"[perfbench] reference: $j meets the known defect at data batch $b"))
    }
    val setupEndNs = System.nanoTime()

    var attempted = 0L
    var failed = 0L
    var mismatched = 0L
    var cycleNo = 0
    def cycle(trace: Option[Trace], dir: File = stageDir,
              expect: Map[String, Ref] = expect,
              nFiles: Int = files): Seq[JobRun] = {
      cycleNo += 1
      val c = cycleNo
      Trace.span(trace, "cycle", ctx.rootSpan) { cid =>
        jobs.map { j =>
          val r = Trace.span(trace, j, cid) { jid =>
            val r = runJob(ctx, j, dir, c, expect(j))
            trace.foreach(tr => r.progress.foreach(p => traceTrigger(tr, ctx, p, jid)))
            r
          }
          attempted += nFiles
          failed += (if (r.matched) nFiles - r.progress.size else nFiles)
          if (!r.matched) mismatched += 1
          r
        }
      }
    }

    // warm-up: one cycle over the first file, outputs checked too
    val warmDir = new File(ctx.work, "stage_warm")
    warmDir.mkdirs()
    stageDir.listFiles().sortBy(_.getName).take(1).foreach { f =>
      val g = new File(warmDir, f.getName)
      Files.copy(f.toPath, g.toPath)
      g.setLastModified(f.lastModified)
    }
    val warmExpect = jobs.map(j => j -> reference(j, staged.take(1))).toMap
    cycle(None, warmDir, warmExpect, 1)

    // a fixed cycle count per run, so every run takes the same samples. A
    // traced run alternates untraced and traced cycles, nCycles of each:
    // the end-to-end figures come from the untraced ones, the per-layer
    // figures from the traced ones, and the pair gives the tracing overhead
    val nCycles = math.max(1, math.round(ctx.seconds / cycleS).toInt)
    val plan = Seq.fill(nCycles)(if (ctx.traced) Seq(false, true) else Seq(false)).flatten
    val timed = plan.map { traced =>
      val t0 = System.nanoTime()
      val rs = cycle(if (traced) ctx.trace else None)
      (traced, Stats.seconds(t0, System.nanoTime()), rs)
    }
    def rowsPerS(cs: Seq[(Boolean, Double, Seq[JobRun])]): Double =
      cs.flatMap(_._3).flatMap(_.progress).map(_.numInputRows).sum / cs.map(_._2).sum
    val plain = timed.filterNot(_._1)
    val measured = if (ctx.traced) timed.filter(_._1) else plain
    val layer = mutable.Map.empty[String, Double]
    val runs = measured.flatMap(_._3)
    jobs.foreach { j =>
      val rs = runs.filter(_.name == j)
      val ps = rs.flatMap(_.progress)
      def phase(k: String): Double =
        if (ps.isEmpty) 0.0
        else Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      layer(s"$j.latest_offset_ms") = phase("latestOffset")
      layer(s"$j.query_planning_ms") = phase("queryPlanning")
      layer(s"$j.add_batch_ms") = phase("addBatch")
      layer(s"$j.wal_commit_ms") = phase("walCommit")
      layer(s"$j.commit_offsets_ms") = phase("commitOffsets")
      val last = rs.last.progress.lastOption
      layer(s"$j.state_rows") =
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
      layer(s"$j.state_mb") = rs.last.stateMb
      layer(s"$j.late_rows_dropped") =
        rs.last.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble
    }
    layer("stream.stage_s") = Stats.median(repS)
    if (ctx.traced)
      layer ++= Trace.overhead(plain.map(_._2), measured.map(_._2), rowsPerS(plain), rowsPerS(measured))

    // a job's first trigger also plans and compiles the query; the
    // steady triggers after it are the stream's latency. Each job's
    // triggers form a cluster of their own, and a percentile pooled over
    // two clusters of equal size jumps between them, so each percentile is
    // taken per job and averaged over the jobs with 3 steady triggers or
    // more (`user_jump` has fewer while its known defect stops it)
    val plainRuns = plain.flatMap(_._3)
    val trigMs = jobs.map(j => plainRuns.filter(_.name == j).flatMap(_.progress.drop(1))
      .map(_.durationMs.get("triggerExecution").toDouble)).filter(_.size >= 3)
    def trigPct(p: Double): Double = trigMs.map(Stats.percentile(_, p)).sum / trigMs.size
    Result(
      attempted = attempted, failed = failed, mismatched = mismatched,
      setupRepS = repS, setupEndNs = setupEndNs,
      endToEnd = Map(
        "pass_s" -> Stats.median(plain.map(_._2)),
        "op_p50_ms" -> trigPct(50),
        "op_p75_ms" -> trigPct(75),
        "rows_per_s" -> rowsPerS(plain),
        "disk_mb" -> plain.last._3.map(_.sstMb).sum),
      layer = layer.toMap,
      detail = Map(
        "cycles" -> timed.map { case (traced, s, _) => Map("traced" -> traced, "wall_s" -> s) },
        "state_mb_total" -> jobs.map(j => plainRuns.filter(_.name == j).last.stateMb).sum,
        "jobs" -> timed.flatMap { case (traced, _, rs) => rs.map(r => Map("job" -> r.name,
          "traced" -> traced, "wall_s" -> r.wallS, "triggers" -> r.progress.size,
          "error" -> r.error.map(_.take(300)), "matched" -> r.matched,
          "trigger_ms" -> r.progress.map(_.durationMs.get("triggerExecution")))) }))
  }

  /** Trigger span plus one child per engine phase, laid end to end from
    * the trigger's start (progress reports durations, not start times). */
  private def traceTrigger(tr: Trace, ctx: Ctx, p: StreamingQueryProgress, parent: Long): Unit = {
    val start = ctx.epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val id = tr.newId()
    tr.add(id, "trigger", parent, start, start + d.getOrElse("triggerExecution", 0L) * 1000000L,
      "batch" -> p.batchId, "rows" -> p.numInputRows)
    var at = start
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
      val ms = d.getOrElse(k, 0L)
      tr.add(tr.newId(), k, id, at, at + ms * 1000000L)
      at += ms * 1000000L
    }
  }
}
