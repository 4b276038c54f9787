package graft

import graft.streaming._
import graft.streaming.StatefulOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private var qid = 0
  private def nextName(): String = { qid += 1; s"stream_out_$qid" }

  test("dailyDedup emits only the first event per key per day") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedup(in.toDS()).writeStream
      .format("memory").queryName("dd").outputMode(OutputMode.Append).start()
    in.addData(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 2000, "2024-01-01"),
      KeyedEvent("u2", 1500, "2024-01-01"))
    q.processAllAvailable()
    in.addData(
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u1", 90000001, "2024-01-02"))
    q.processAllAvailable()
    val rows = spark.table("dd").as[KeyedEvent].collect().sortBy(e => (e.key, e.ts))
    q.stop()
    assert(rows.toSeq === Seq(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u2", 1500, "2024-01-01")))
  }

  test("dailyDedup on a 3-batch slicing: midnight rollover and cross-batch " +
      "same-day dups") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedup(in.toDS()).writeStream
      .format("memory").queryName("dd_slices").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(KeyedEvent("u1", 1000, "2024-01-01"),
        KeyedEvent("u1", 2000, "2024-01-01"), // same batch, same day: drop
        KeyedEvent("u2", 1500, "2024-01-01")),
      Seq(KeyedEvent("u1", 3000, "2024-01-01"), // cross-batch same day: drop
        KeyedEvent("u3", 4000, "2024-01-01")),
      // midnight rollover: first event of the new day emits for every key
      Seq(KeyedEvent("u1", 90000000, "2024-01-02"),
        KeyedEvent("u1", 90000001, "2024-01-02"),
        KeyedEvent("u2", 90000500, "2024-01-02")))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("dd_slices").as[KeyedEvent].collect()
      .sortBy(e => (e.key, e.ts))
    q.stop()
    assert(rows.toSeq === Seq(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u2", 1500, "2024-01-01"),
      KeyedEvent("u2", 90000500, "2024-01-02"),
      KeyedEvent("u3", 4000, "2024-01-01")))
  }

  test("dailyDedup emits the first row per (key, date) under random " +
      "batching (midnight-rollover property)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val events = rnd.shuffle(for {
      k <- 1 to 5; (d, di) <- days.zipWithIndex; i <- 1 to 4
    } yield KeyedEvent(s"u$k", di * 86400000L + i * 1000L, d))
      .sortBy(_.ts) // per-key event-time order is the operator contract
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedup(in.toDS()).writeStream
      .format("memory").queryName("dd_prop")
      .outputMode(OutputMode.Append).start()
    var i = 0
    while (i < events.length) {
      val n = 1 + rnd.nextInt(7)
      in.addData(events.slice(i, i + n))
      q.processAllAvailable()
      i += n
    }
    val rows = spark.table("dd_prop").as[KeyedEvent].collect()
    q.stop()
    assert(rows.length === 15, s"expected 5 keys x 3 days, got ${rows.length}")
    assert(rows.map(e => (e.key, e.date)).toSet.size === 15)
    // each emitted row is the FIRST of its (key, day)
    val firsts = events.groupBy(e => (e.key, e.date))
      .map { case (_, g) => g.minBy(_.ts) }.toSet
    assert(rows.toSet === firsts)
  }

  test("sessionizeTws closes by gap in-stream and by event-time timer at the end") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_seconds(col("ts")))
      .withWatermark("eventTime", "0 seconds")
      .as[KeyedEvent]
    val q = sessionizeTws(withWm, gapS = 60).writeStream
      .format("memory").queryName("sess_tws").outputMode(OutputMode.Append)
      .start()
    in.addData(
      KeyedEvent("u1", 20, "d"), KeyedEvent("u1", 10, "d"), // one session
      KeyedEvent("u2", 15, "d"))
    q.processAllAvailable()
    // 200 - 20 > gap: u1's first session closes on arrival; a second opens
    in.addData(KeyedEvent("u1", 200, "d"))
    q.processAllAvailable()
    val afterArrival = spark.table("sess_tws").as[SessionOut].collect().toSet
    // the gap-split closed (u1, 10-20) on arrival; u2's timer (expiry 75 s)
    // may ALSO have fired already once the 200 s event advanced the
    // watermark — both are correct. What must NOT be there yet is u1's
    // open 200-session (its timer expires at 260 s > current watermark).
    assert(afterArrival.contains(SessionOut("u1", 10, 20, 2)), s"$afterArrival")
    assert(!afterArrival.contains(SessionOut("u1", 200, 200, 1)),
      s"open session emitted before its timer: $afterArrival")
    // drive the watermark past 200+60: the held sessions must finalize via
    // handleExpiredTimer, NOT by more data on their own keys
    in.addData(KeyedEvent("u3", 400, "d"))
    q.processAllAvailable()
    in.addData(KeyedEvent("u3", 401, "d")) // extra batch so timers fire
    q.processAllAvailable()
    val fin = spark.table("sess_tws").as[SessionOut].collect().toSet
    q.stop()
    // u3's own session stays open (timer at 461 s, watermark 401 s)
    assert(fin == Set(
      SessionOut("u1", 10, 20, 2),
      SessionOut("u2", 15, 15, 1),
      SessionOut("u1", 200, 200, 1)), s"final sessions: $fin")
  }

  test("ingestDedup emits exactly the first doc per fingerprint across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IngestDoc]
    val q = ingestDedup(in.toDS()).writeStream
      .format("memory").queryName("ingest_dd").outputMode(OutputMode.Append)
      .start()
    in.addData(
      IngestDoc("fpA", 11L, 1000),
      IngestDoc("fpA", 10L, 1000), // same batch, same ts: docId breaks tie
      IngestDoc("fpB", 20L, 1500))
    q.processAllAvailable()
    in.addData(
      IngestDoc("fpA", 30L, 2000), // later batch duplicate: dropped
      IngestDoc("fpC", 40L, 2500))
    q.processAllAvailable()
    val rows = spark.table("ingest_dd").as[IngestDoc].collect().sortBy(_.fp)
    q.stop()
    assert(rows.toSeq === Seq(
      IngestDoc("fpA", 10L, 1000),
      IngestDoc("fpB", 20L, 1500),
      IngestDoc("fpC", 40L, 2500)))
  }

  test("visitorRepair rewrites stale is_new flags") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val q = visitorRepair(in.toDS()).writeStream
      .format("memory").queryName("vr").outputMode(OutputMode.Append).start()
    in.addData(PageView("m1", "home", null, "1", 1000, "2024-01-01"))
    q.processAllAvailable()
    in.addData(PageView("m1", "home", null, "1", 90000000, "2024-01-02"))
    q.processAllAvailable()
    val rows = spark.table("vr").as[PageView].collect().sortBy(_.ts)
    q.stop()
    assert(rows.map(_.isNew).toSeq === Seq("1", "0"))
  }

  test("visitorRepair on a 3-batch multi-mid slicing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val q = visitorRepair(in.toDS()).writeStream
      .format("memory").queryName("vr_slices").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(PageView("m1", "home", null, "1", 1000, "2024-01-01"),
        PageView("m2", "home", null, "1", 1500, "2024-01-01")),
      Seq(PageView("m1", "home", null, "1", 90000000, "2024-01-02"),
        PageView("m1", "detail", "home", "0", 90000100, "2024-01-02"),
        PageView("m3", "home", null, "1", 90000200, "2024-01-02")),
      Seq(PageView("m2", "home", null, "1", 180000000, "2024-01-03")))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("vr_slices").as[PageView].collect()
      .sortBy(e => (e.mid, e.ts)).toSeq
    q.stop()
    // a later-day "1" is rewritten only for a mid first seen earlier,
    // across batches; first visits (m3 on day two) keep the flag as sent
    assert(rows === Seq(
      PageView("m1", "home", null, "1", 1000, "2024-01-01"),
      PageView("m1", "home", null, "0", 90000000, "2024-01-02"),
      PageView("m1", "detail", "home", "0", 90000100, "2024-01-02"),
      PageView("m2", "home", null, "1", 1500, "2024-01-01"),
      PageView("m2", "home", null, "0", 180000000, "2024-01-03"),
      PageView("m3", "home", null, "1", 90000200, "2024-01-02")))
  }

  test("bounceDetector: entry→entry bounces, entry→page does not, timeout bounces") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("ts")))
      .withWatermark("eventTime", "0 seconds")
      .as[PageView]
    val q = bounceDetector(withWm, timeoutMs = 10000).writeStream
      .format("memory").queryName("bd").outputMode(OutputMode.Append).start()
    in.addData(
      PageView("A", "home", null, "0", 1000, "d"),   // entry, held
      PageView("A", "home", null, "0", 3000, "d"),   // entry again → bounce(1000)
      PageView("B", "home", null, "0", 1000, "d"),   // entry, held
      PageView("B", "detail", "home", "0", 3000, "d"), // continuation → no bounce
      PageView("C", "home", null, "0", 1000, "d"))   // entry, held → timeout
    q.processAllAvailable()
    // advance the watermark far past C's 10 s horizon
    in.addData(PageView("Z", "home", null, "0", 60000, "d"))
    q.processAllAvailable()
    in.addData(PageView("Z2", "home", null, "0", 120000, "d"))
    q.processAllAvailable()
    val rows = spark.table("bd").as[PageView].collect()
    q.stop()
    val bounced = rows.map(r => (r.mid, r.ts)).toSet
    assert(bounced.contains(("A", 1000L)), s"A should bounce: $bounced")
    assert(bounced.contains(("C", 1000L)), s"C should time out: $bounced")
    assert(!bounced.exists(_._1 == "B"), s"B continued: $bounced")
  }

  test("keepLatest holds max-opTs row and flushes when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[VersionedRow]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = keepLatest(withWm, flushMs = 5000).writeStream
      .format("memory").queryName("kl").outputMode(OutputMode.Append).start()
    in.addData(
      VersionedRow("k1", 1000, "v1"),
      VersionedRow("k1", 5000, "v5"),
      VersionedRow("k1", 3000, "v3"))
    q.processAllAvailable()
    assert(spark.table("kl").isEmpty) // still held: watermark at 5000
    in.addData(VersionedRow("k2", 60000, "x")) // watermark → 60000 > 5000+5000
    q.processAllAvailable()
    in.addData(VersionedRow("k3", 120000, "y"))
    q.processAllAvailable()
    val rows = spark.table("kl").as[VersionedRow].collect()
    q.stop()
    assert(rows.exists(r => r.key == "k1" && r.payload == "v5"),
      s"expected latest v5 flushed, got ${rows.toSeq}")
    assert(!rows.exists(r => r.key == "k1" && r.payload != "v5"))
  }

  test("keepLatest flushes exactly one latest row per key on a 4-batch " +
      "slicing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[VersionedRow]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = keepLatest(withWm).writeStream
      .format("memory").queryName("kl_slices").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(VersionedRow("k1", 1000, "v1"), VersionedRow("k1", 5000, "v5"),
        VersionedRow("k1", 3000, "v3")),
      Seq(VersionedRow("k2", 60000, "x")), // watermark → 60000 > 5000+5000
      Seq(VersionedRow("k3", 120000, "y")),
      Seq(VersionedRow("k4", 240000, "z"))) // flushes k3; k4 stays held
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("kl_slices").as[VersionedRow].collect()
      .sortBy(e => (e.key, e.opTs)).toSeq
    q.stop()
    assert(rows === Seq(
      VersionedRow("k1", 5000, "v5"),
      VersionedRow("k2", 60000, "x"),
      VersionedRow("k3", 120000, "y")))
  }

  test("bounceDetectorTws (handleExpiredTimer) ≡ bounceDetector on the same slicing") {
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(
        PageView("A", "home", null, "0", 1000, "d"),   // entry, held
        PageView("A", "home", null, "0", 3000, "d"),   // entry again → bounce
        PageView("B", "home", null, "0", 1000, "d"),   // entry, held
        PageView("B", "detail", "home", "0", 3000, "d"), // continuation
        PageView("C", "home", null, "0", 1000, "d")),  // entry → timeout
      Seq(PageView("Z", "home", null, "0", 60000, "d")),
      Seq(PageView("Z2", "home", null, "0", 120000, "d")))
    def run(name: String,
        f: org.apache.spark.sql.Dataset[PageView] =>
          org.apache.spark.sql.Dataset[PageView]): Set[(String, Long)] = {
      val in = MemoryStream[PageView]
      val withWm = in.toDS().toDF()
        .withColumn("eventTime", timestamp_millis(col("ts")))
        .withWatermark("eventTime", "0 seconds")
        .as[PageView]
      val q = f(withWm).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append)
        .start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      in.addData(PageView("Z3", "home", null, "0", 240000, "d"))
      q.processAllAvailable()
      val rows = spark.table(name).as[PageView].collect()
        .map(r => (r.mid, r.ts)).toSet
      q.stop()
      rows
    }
    val legacy = run("bd_legacy", ds => bounceDetector(ds))
    val tws = run("bd_tws", ds => bounceDetectorTws(ds))
    assert(tws === legacy)
    // both CEP arms fired: entry→entry (A) and timer timeout (C), B not
    assert(tws.contains(("A", 1000L)) && tws.contains(("C", 1000L)), s"$tws")
    assert(!tws.exists(_._1 == "B"), s"$tws")
  }

  test("log splitter routes five branches and catches dirty lines") {
    val lines = Seq(
      """{"common":{"mid":"m1","uid":"u1","is_new":"1"},"page":{"page_id":"home","during_time":5},"ts":1000}""",
      """{"common":{"mid":"m2"},"start":{"entry":"icon","loading_time":9},"ts":2000}""",
      """{"common":{"mid":"m3"},"page":{"page_id":"good_detail","last_page_id":"home"},"displays":[{"item":"1","order":1},{"item":"2","order":2}],"actions":[{"action_id":"favor_add","ts":2500}],"ts":3000}""",
      """{"common":{"mid":"m4"},"err":{"error_code":42,"msg":"boom"},"ts":4000}""",
      """this is not json""").toDF("line")
    val branches = LogSplitter.splitAll(lines)
    assert(branches("page").count() === 2)
    assert(branches("start").count() === 1)
    assert(branches("display").count() === 2) // one event, two displays
    assert(branches("action").count() === 1)
    assert(branches("err").count() === 1)
    assert(branches("dirty").count() === 1)
  }

  test("cdc decode + filter + dim routing with keep-latest merge") {
    val dir = java.nio.file.Files.createTempDirectory("dimroute").toString
    val mk = (t: String, typ: String, id: String, name: String, ts: Long) =>
      s"""{"database":"g","table":"$t","type":"$typ","ts":$ts,"data":{"id":"$id","name":"$name","extra":"x"},"old":{}}"""
    val batch1 = Seq(
      mk("base_trademark", "insert", "1", "apple", 100),
      mk("base_trademark", "insert", "2", "pear", 101),
      mk("order_info", "insert", "9", "ignored", 102)).toDF("line")
    val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_trademark",
      Seq("id", "name"), "id"))
    val w1 = CdcOps.routeDims(spark, CdcOps.decode(batch1), routes, dir)
    assert(w1("dim_trademark") === 2)
    val batch2 = Seq(mk("base_trademark", "update", "1", "apricot", 200)).toDF("line")
    val w2 = CdcOps.routeDims(spark, CdcOps.decode(batch2), routes, dir)
    // bounded rewrite: only id=1's pk-hash bucket is merged ("1" and "2"
    // land in different buckets of 16), so the update touches 1 row —
    // round 1 rewrote the whole table (2) here
    assert(w2("dim_trademark") === 1)
    val names = spark.read.parquet(s"$dir/dim_trademark")
      .select("id", "name").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names === Map("1" -> "apricot", "2" -> "pear"))
  }

  test("cdc status-transition filter (O2)") {
    val mkOrd = (id: String, status: String, old: String) =>
      s"""{"database":"g","table":"order_info","type":"update","ts":1,"data":{"id":"$id","order_status":"$status"},"old":{"order_status":"$old"}}"""
    val df = Seq(
      mkOrd("1", "1003", "1001"), // cancel: keep
      mkOrd("2", "1002", "1001"), // pay: drop
      s"""{"database":"g","table":"order_info","type":"update","ts":1,"data":{"id":"3","order_status":"1003"},"old":{}}""" // no old image: drop
    ).toDF("line")
    val cancels = CdcOps.tableStream(CdcOps.decode(df), "order_info",
      types = Seq("update"), oldHas = Some("order_status"),
      dataEquals = Map("order_status" -> "1003"))
    assert(cancels.select(element_at(col("data"), "id")).as[String].collect().toSeq === Seq("1"))
  }
}
