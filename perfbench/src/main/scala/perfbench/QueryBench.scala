package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `batch` workload: one client, closed loop, running a fixed set of
  * registered queries in a seeded order.
  *
  * Per query the timed region is the registered function call (the
  * query-function layer: eager pins and driver collects happen here)
  * plus full materialisation through `queryExecution.toRdd`, as the
  * product's own harness times it. Outputs are checked outside the timed
  * region: every query is collected once during warm-up and its
  * fingerprint compared with the committed one. */
object QueryBench {

  /** A query set, its input scale, and its nominal pass time on a 4-core
    * machine: `--seconds` buys `seconds / passS` timed passes, at least
    * `minPasses`. */
  final case class Spec(name: String, scale: String, passS: Double, queries: Seq[String],
                        minPasses: Int = 2)

  /** The `batch` query set: for each module of the ADS read path and of
    * training-data preparation, the query at the module's (lower) median
    * per-query time in a traced probe of every query of these modules at
    * sf0.001 (`run.py --probe`; table in README.md), so each module is
    * represented by a typical query. Small enough that a run repeats it. */
  val spec: Spec =
    Spec("batch", "sf0.001", 7.5, minPasses = 3, queries = Seq(
      // ADS read path
      "q_ads_channel_stats", "q_dws_traffic_window", "q_dwd_changelog_stats",
      "q_anti_join",
      // training-data preparation
      "q_seq_packing_sharded", "q_semantic_decontaminate", "q_bm25_rank",
      "q_mm_silence", "q_gdpr_purge"))
  // at least 3 passes: with an odd number of samples of each of the 9
  // queries, the median and p75 fall among one query's own samples instead
  // of between two queries

  private def moduleName(m: AnyRef): String =
    m.getClass.getSimpleName.stripSuffix("$")

  /** query name -> (module name, registered function) */
  lazy val registry: Map[String, (String, (SparkSession, String) => DataFrame)] =
    graft.SparkEntry.modules.flatMap(m =>
      m.queries.map { case (q, f) => q -> (moduleName(m), f) }).toMap

  /** Every module a query of `s` belongs to. */
  def modules(s: Spec): Seq[String] = s.queries.map(q => registry(q)._1).distinct.sorted

  /** Every registered query of the named modules: the probe that the
    * query set above was chosen from (see README.md). It runs unchecked. */
  def probe(mods: Seq[String]): Spec =
    Spec("probe", spec.scale, spec.passS,
      registry.toSeq.filter(kv => mods.contains(kv._2._1)).map(_._1).sorted, minPasses = 1)

  // ---------------------------------------------------------------- output

  /** Canonical result fingerprint: columns in name order, each row
    * rendered as text, rows sorted, SHA-256 over the lot. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => render(r.get(i)))
      .mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("<", ",", ">")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** `{"<query>": {"rows": n, "sha256": "<hex>"}, ...}` */
  def readExpected(path: String): Map[String, (Long, String)] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
      .properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("sha256").asText)
      }.toMap

  // -------------------------------------------------------- execution split

  /** Per-query, per-phase job, shuffle and scan counters gathered from
    * the listener bus in the traced passes. A phase is tagged through a
    * local property set before each call, so jobs started by eager work
    * inside a query function count as `<query>:build`, the final
    * materialisation as `<query>:exec`. */
  final class PhaseListener extends SparkListener {
    val phaseKey = "perfbench.phase"
    private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val shuffleBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val scanBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private def bump(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
                     k: String, d: Long): Unit =
      m.merge(k, d, (a: java.lang.Long, b: java.lang.Long) => a + b)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p =>
        Option(p.getProperty(phaseKey))).getOrElse("other")
      bump(jobs, phase, 1)
      e.stageIds.foreach(stagePhase.put(_, phase))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val phase = Option(stagePhase.get(e.stageId)).getOrElse("other")
        bump(shuffleBytes, phase, e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        bump(scanBytes, phase, e.taskMetrics.inputMetrics.bytesRead)
      }
    def get(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
            k: String): Long = Option(m.get(k)).map(_.longValue).getOrElse(0L)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  // ------------------------------------------------------------------ run

  final case class Sample(query: String, module: String, buildS: Double,
                          execS: Double, rows: Long)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val spec = if (ctx.probe.isEmpty) this.spec else probe(ctx.probe)
    val selected = spec.queries.map(q => q -> registry(q))
    val expected =
      if (ctx.probe.isEmpty) readExpected(ctx.expectedFile(spec.name, ctx.scale(spec.scale)))
      else Map.empty[String, (Long, String)]
    var attempted = 0L
    var failed = 0L
    var mismatched = 0L

    val fingerprints = mutable.Map.empty[String, (Long, String)]
    /** Collects a query's output and compares its fingerprint with the
      * committed one; true when it matches. */
    def check(q: String, df: DataFrame): Boolean = {
      val got = fingerprint(df)
      fingerprints(q) = got
      val good = ctx.probe.nonEmpty || expected.get(q).contains(got)
      if (!good) {
        System.err.println(s"[perfbench] $q output mismatch: got rows=${got._1} " +
          s"sha256=${got._2}, expected ${expected.get(q)}")
        mismatched += 1
      }
      good
    }

    // ---- set-up and warm-up. Round 1 stages a fresh input copy and runs
    // every query once: the function call, watching the store root to learn
    // which calls build a store, then a collect whose fingerprint must equal
    // the committed one. Each later round stages a fresh copy and repeats
    // only the store-building calls. A round's time is the time of its
    // store-building calls; only the last copy and its stores are kept.
    val storeBuild = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var builders = selected
    var inputDir = ""
    val repS = (1 to ctx.setupReps).map { rep =>
      val prev = inputDir
      inputDir = ctx.stageInput(ctx.scale(spec.scale), rep)
      var dirs = ctx.storeDirs()
      val calls = builders.map { case call @ (q, (_, fn)) =>
        attempted += 1
        val c0 = System.nanoTime()
        val df = try Some(Trace.span(ctx.trace, "store-setup", ctx.rootSpan,
            "query" -> q, "round" -> rep)(_ => fn(spark, inputDir)))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $q failed in set-up: ${e.getMessage}")
            None
          }
        val callS = Stats.seconds(c0, System.nanoTime())
        val after = ctx.storeDirs()
        val fresh = (after -- dirs).toSeq.map(ctx.tagOf).distinct
        // a call that built several stores charges them in equal shares
        fresh.foreach(t => storeBuild.getOrElseUpdate(t, mutable.ArrayBuffer.empty) +=
          callS / fresh.size)
        dirs = after
        val ok = df.exists(d => rep > 1 || (try check(q, d) catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed in warm-up: ${e.getMessage}")
          false
        }))
        if (!ok) failed += 1
        graft.GraftSession.releaseCaches(spark)
        (call, callS, fresh.nonEmpty)
      }
      builders = calls.filter(_._3).map(_._1)
      if (prev.nonEmpty) ctx.dropInput(prev)
      calls.filter(_._3).map(_._2).sum
    }
    val storeMb = ctx.storeSizesMb()
    val setupEndNs = System.nanoTime()

    // ---- timed passes: a fixed count per run, so every run takes the same
    // samples at the same point of the JVM's warm-up. A traced run
    // alternates untraced and traced passes, nPasses of each: the
    // end-to-end figures come from the untraced ones, the per-layer figures
    // from the traced ones, and the pair gives the tracing overhead. A
    // traced pass tags each call's Spark jobs by query and phase for its
    // listener.
    val nPasses = math.max(spec.minPasses, math.round(ctx.seconds / spec.passS).toInt)
    val layer = mutable.Map.empty[String, Double]
    val listener = new PhaseListener
    val rnd = new scala.util.Random(ctx.seed)
    def pass(traced: Boolean): (Boolean, Double, Seq[Sample]) = {
      val trace = if (traced) ctx.trace else None
      val sc = spark.sparkContext
      def tag(v: String): Unit = if (traced) sc.setLocalProperty(listener.phaseKey, v)
      if (traced) sc.addSparkListener(listener)
      val order = rnd.shuffle(selected)
      val t0 = System.nanoTime()
      val samples = Trace.span(trace, "pass", ctx.rootSpan) { passId =>
        order.flatMap { case (q, (mod, fn)) =>
          attempted += 1
          try Trace.span(trace, q, passId, "module" -> mod) { qId =>
            tag(s"$q:build")
            val b0 = System.nanoTime()
            val df = Trace.span(trace, "build", qId)(_ => fn(spark, inputDir))
            val b1 = System.nanoTime()
            tag(s"$q:exec")
            val gc0 = gcMs()
            val rows = Trace.span(trace, "exec", qId)(_ => df.queryExecution.toRdd.count())
            val e1 = System.nanoTime()
            if (traced) {
              tag(null)
              layer(s"$mod.gc_s") = layer.getOrElse(s"$mod.gc_s", 0.0) + (gcMs() - gc0) / 1e3
              val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
              layer(s"$mod.plan_ms") = layer.getOrElse(s"$mod.plan_ms", 0.0) + planMs
              trace.foreach { tr =>
                df.queryExecution.tracker.phases.foreach { case (ph, p) =>
                  tr.add(tr.newId(), s"plan.$ph", qId, ctx.epochMsToNs(p.startTimeMs),
                    ctx.epochMsToNs(p.endTimeMs))
                }
              }
            }
            if (fingerprints.get(q).exists(_._1 != rows)) {
              System.err.println(s"[perfbench] $q returned $rows rows in a timed pass")
              mismatched += 1
              failed += 1
            }
            Seq(Sample(q, mod, Stats.seconds(b0, b1), Stats.seconds(b1, e1), rows))
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
            failed += 1
            Nil
          } finally graft.GraftSession.releaseCaches(spark)
        }
      }
      val passS = Stats.seconds(t0, System.nanoTime())
      if (traced) {
        org.apache.spark.PerfbenchBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
      (traced, passS, samples)
    }

    val passes = Seq.fill(nPasses)(if (ctx.traced) Seq(false, true) else Seq(false)).flatten
      .map(pass)
    def rowsPerS(ps: Seq[(Boolean, Double, Seq[Sample])]): Double =
      ps.flatMap(_._3).map(_.rows).sum / ps.map(_._2).sum
    val plain = passes.filterNot(_._1)
    val measured = if (ctx.traced) passes.filter(_._1) else plain
    val queries = if (ctx.traced) measured.flatMap(_._3).groupBy(_.query).toSeq.sortBy(_._1).map {
      case (q, ss) =>
        def mb(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]) =
          (listener.get(m, s"$q:build") + listener.get(m, s"$q:exec")) / 1e6 / nPasses
        Map("query" -> q, "module" -> ss.head.module,
          "build_s" -> ss.map(_.buildS).sum / nPasses, "exec_s" -> ss.map(_.execS).sum / nPasses,
          "build_jobs" -> listener.get(listener.jobs, s"$q:build").toDouble / nPasses,
          "exec_jobs" -> listener.get(listener.jobs, s"$q:exec").toDouble / nPasses,
          "shuffle_mb" -> mb(listener.shuffleBytes), "scan_mb" -> mb(listener.scanBytes))
    } else Nil
    if (ctx.traced) {
      modules(spec).foreach { m =>
        val qs = queries.filter(_("module") == m)
        def sum(k: String) = qs.map(_(k).asInstanceOf[Double]).sum
        Seq("build_s", "exec_s", "build_jobs", "exec_jobs", "shuffle_mb", "scan_mb")
          .foreach(k => layer(s"$m.$k") = sum(k))
        layer(s"$m.plan_ms") = layer.getOrElse(s"$m.plan_ms", 0.0) / nPasses
        layer(s"$m.gc_s") = layer.getOrElse(s"$m.gc_s", 0.0) / nPasses
      }
      layer ++= Trace.overhead(plain.map(_._2), measured.map(_._2), rowsPerS(plain),
        rowsPerS(measured))
    }
    storeBuild.foreach { case (t, xs) => layer(s"store.$t.build_s") = Stats.median(xs.toSeq) }
    storeMb.foreach { case (t, mb) => layer(s"store.$t.mb") = mb }

    val latMs = plain.flatMap(_._3).map(s => (s.buildS + s.execS) * 1e3)
    Result(
      attempted = attempted, failed = failed, mismatched = mismatched,
      setupRepS = repS, setupEndNs = setupEndNs,
      endToEnd = Map(
        "pass_s" -> Stats.median(plain.map(_._2)),
        "op_p50_ms" -> Stats.percentile(latMs, 50),
        "op_p75_ms" -> Stats.percentile(latMs, 75),
        "rows_per_s" -> rowsPerS(plain),
        "disk_mb" -> storeMb.values.sum),
      layer = layer.toMap,
      detail = Map(
        "passes" -> passes.map { case (traced, s, _) => Map("traced" -> traced, "wall_s" -> s) },
        "samples" -> passes.flatMap { case (traced, _, ss) => ss.map(s => Map("query" -> s.query,
          "module" -> s.module, "traced" -> traced, "build_s" -> s.buildS,
          "exec_s" -> s.execS, "rows" -> s.rows)) },
        "queries" -> queries))
  }
}
