package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** What a workload reports back to [[Main]]. */
final case class Result(attempted: Long, failed: Long, mismatched: Long,
                        setupRepS: Seq[Double], setupEndNs: Long,
                        endToEnd: Map[String, Double],
                        layer: Map[String, Double],
                        detail: Map[String, Any])

/** Run-wide settings and the file-system helpers the workloads share. All
  * state lives under `work`, a per-process directory removed at exit. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val traced: Boolean,
                val benchDir: File, val work: File, val storeRoot: File,
                scaleOverride: Option[String], expectedOverride: Option[String],
                val probe: Seq[String]) {
  val setupReps = 3
  val trace: Option[Trace] = if (traced) Some(new Trace) else None
  val rootSpan: Long = 0L
  private val epochAtT0Ms = System.currentTimeMillis()
  private val nanoAtT0 = System.nanoTime()

  def scale(default: String): String = scaleOverride.getOrElse(default)
  def expectedFile(workload: String, scale: String): String =
    expectedOverride.getOrElse(new File(benchDir, s"expected/$workload-$scale.json").getPath)
  def epochMsToNs(ms: Long): Long = nanoAtT0 + (ms - epochAtT0Ms) * 1000000L

  /** Copies the committed input tables of `scale` to a fresh directory,
    * so every set-up builds its stores from inputs no store has seen. */
  def stageInput(scale: String, rep: Int): String = {
    val src = new File(benchDir, s"data/$scale")
    val dst = new File(work, s"in_${scale}_r$rep")
    dst.mkdirs()
    src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).foreach { f =>
      Files.copy(f.toPath, new File(dst, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    dst.getPath
  }

  /** Deletes a staged input and every store directory built from it (the
    * product names a store directory after its input path). */
  def dropInput(dir: String): Unit = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    Option(storeRoot.listFiles()).toSeq.flatten.filter(_.getName.contains(tag))
      .foreach(Ctx.delete)
    Ctx.delete(new File(dir))
  }

  /** Store directories under the root, by name. */
  def storeDirs(): Set[String] =
    Option(storeRoot.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet

  /** A store directory is named `<tag>_<input>_<digest>`. */
  def tagOf(dirName: String): String = dirName.takeWhile(_ != '_')

  /** Bytes on disk per store tag, in MB. */
  def storeSizesMb(): Map[String, Double] =
    Option(storeRoot.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .groupBy(d => tagOf(d.getName))
      .map { case (t, ds) => t -> ds.map(Ctx.bytes).sum / 1e6 }
}

object Ctx {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
  def bytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).toSeq.flatten.map(bytes).sum
}

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --bench-dir <dir> --work <dir> --record <dir>`, plus
  * `--scale <sf>` / `--expected <file>` (smoke test),
  * `--write-expected <file> --dump <dir>` (regenerates the fingerprints
  * and dumps results for the DuckDB oracle check) and
  * `--probe <Module,...>` (`batch` over every query of those modules,
  * unchecked, to see where each module's cost lies).
  *
  * Prints one JSON line, last on stdout: the end-to-end figures and
  * counts; `run.py` turns it into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val benchDir = new File(opt("bench-dir"))
    val work = new File(opt("work"))
    val record = new File(opt("record"))
    record.mkdirs()
    val storeRoot = new File(sys.env("SPARK_GRAFT_DWD_DIR"))

    val load0 = loadAverage()
    val cpu0 = cpuTicks()
    val s0 = System.nanoTime()
    val spark = graft.GraftSession.get()
    graft.GraftSession.silenceBoundedWindowWarn()
    val startS = Stats.seconds(s0, System.nanoTime())
    val sessionUpS = uptimeS()

    val ctx = new Ctx(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", benchDir, work, storeRoot, opt.get("scale"), opt.get("expected"),
      opt.get("probe").toSeq.flatMap(_.split(",")))
    val control0 = controlCpuMs()

    if (opt.contains("write-expected")) {
      WriteExpected(ctx, opt("write-expected"), opt("dump"))
      spark.stop()
      return
    }

    val res = workload match {
      case "batch" => QueryBench.run(ctx)
      case "realtime" => StreamBench.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workloadEndS = uptimeS()
    val control1 = controlCpuMs()
    val controlSpark = controlSparkMs(spark)
    val load1 = loadAverage()
    val cpu1 = cpuTicks()

    val setupS = startS + Stats.median(res.setupRepS)
    val endToEnd = res.endToEnd + ("setup_s" -> setupS)
    val layer = res.layer ++ Map(
      "GraftSession.start_s" -> startS,
      "failed_frac" -> res.failed.toDouble / math.max(1L, res.attempted))
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "loadavg_before" -> load0, "loadavg_after" -> load1,
      "cpu_steal_pct" -> stealPct(cpu0, cpu1),
      "control_cpu_ms_before" -> control0, "control_cpu_ms_after" -> control1,
      "control_spark_ms_after" -> controlSpark,
      "java" -> sys.props("java.version"), "spark" -> spark.version)
    val rec = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced, "env" -> env,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "mismatched" -> res.mismatched,
      "setup_reps_s" -> res.setupRepS, "end_to_end" -> endToEnd,
      // seconds since JVM start at each phase boundary
      "phases_s" -> Map("session" -> sessionUpS,
        "setup_end" -> (uptimeS() - Stats.seconds(res.setupEndNs, System.nanoTime())),
        "workload_end" -> workloadEndS, "record" -> uptimeS()),
      "per_layer" -> layer, "detail" -> res.detail)
    Files.writeString(new File(record, "record.json").toPath, Json(rec))
    ctx.trace.foreach(_.write(new File(record, "spans.json").toPath))
    spark.stop()
    println(Json(Map("correct" -> (res.mismatched == 0), "attempted" -> res.attempted,
      "failed" -> res.failed, "end_to_end" -> endToEnd, "per_layer" -> layer)))
  }

  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** The aggregate `cpu` line of /proc/stat (empty where there is none). */
  private def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Exception => Nil }

  /** Share of the machine's CPU time taken by the hypervisor (steal)
    * between two readings: high on a shared host that is oversubscribed. */
  private def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) Double.NaN
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      100.0 * d(7) / math.max(1L, d.take(8).sum)
    }

  private def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A fixed amount of CPU work (hashing 128 MB) timed before and after
    * the workload. On a quiet machine it repeats within a few percent; a
    * contended run shows here. */
  private def controlCpuMs(): Double = {
    val buf = new Array[Byte](1 << 20)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    (1 to 128).foreach { i => buf(0) = i.toByte; md.update(buf) }
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** A small fixed Spark job, timed once the engine is warm. */
  private def controlSparkMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Regenerates `expected/<workload>-<scale>.json` and dumps each result as
  * parquet, with the queries' oracle SQL, for `scripts/check.py`. */
object WriteExpected {
  def apply(ctx: Ctx, out: String, dump: String): Unit = {
    val spec = QueryBench.spec
    val dir = ctx.stageInput(ctx.scale(spec.scale), 1)
    new File(dump).mkdirs()
    val fps = spec.queries.sorted.map { q =>
      val df = QueryBench.registry(q)._2(ctx.spark, dir)
      val fp = QueryBench.fingerprint(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
      graft.GraftSession.releaseCaches(ctx.spark)
      q -> Map("rows" -> fp._1, "sha256" -> fp._2)
    }
    val oracles = graft.SparkEntry.oracleSql.filter(kv => spec.queries.contains(kv._1))
    Files.writeString(Paths.get(dump, "oracle_sql.json"), Json(oracles))
    Files.writeString(Paths.get(out),
      fps.map { case (q, m) => s"  ${Json.quote(q)}: ${Json(m)}" }
        .mkString("{\n", ",\n", "\n}\n"))
  }
}
