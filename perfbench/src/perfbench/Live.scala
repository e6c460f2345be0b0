package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.core.{Alerts, LatestState}
import graft.lake.Archive
import graft.serve.{HttpShim, QueryApi}
import graft.streaming.WeatherPipeline

/** The live pipeline under load: seeded wire files land in a file-source
  * directory on a schedule (open loop), feeding `WeatherPipeline.normalize`
  * into the three forks (latest state, lake, alerts), while closed-loop
  * HTTP clients query `HttpShim` over the latest snapshot. After the steady
  * phase a backlog lands in bursts, each at once, and each drain is timed.
  */
object Live {

  /** A workload: stations sending `hz` msg/s each; a seeded think time
    * below `thinkMs` that each client waits between a reply and its next
    * request; and the burst's length in seconds of the same traffic.
    */
  final case class Shape(name: String, stations: Int, hz: Int, thinkMs: Int,
      burstSec: Int)

  // ingest's clients think, so reads stay light beside twice the writes:
  // without it, 4 clients plus 1,000 rows/s sat at the CPU's capacity and
  // some runs tipped into a growing backlog (e2q p90 3 s in some runs, 6 s
  // in others)
  val Ingest = Shape("ingest", stations = 20, hz = 50, thinkMs = 1000, burstSec = 60)
  // serve_live's clients think up to 500 ms: with none, 4 clients held the
  // CPU at capacity, and every figure followed the host's spare CPU
  val ServeLive = Shape("serve_live", stations = 20, hz = 25, thinkMs = 500, burstSec = 60)
  /** Closed-loop HTTP clients, each sending one scan per nine point gets. */
  val Clients = 4
  val ScanShare = 0.1

  val SetupReps = 3
  /** The backlog arrives as this many bursts, each drained and timed on its
    * own; the drain rate is their median, so a host stall during one burst
    * does not set the run's figure.
    */
  val Bursts = 3
  /** Traffic runs this long before the measured window opens (JIT, caches). */
  val WarmupSec = 5
  /** A steady file holds this much send time. Longer than a latest-fork
    * batch (about 500-1,000 ms here), so each batch reads one file: with
    * 500 ms files the fork sat at its knee, and whether batches kept up
    * split runs into two latency regimes.
    */
  val FileMs = 1000
  /** Reference client timeouts (bitcask_client.py): 5 s point, 10 s scan. */
  val PointTimeoutMs = 5000
  val ScanTimeoutMs = 10000
  val Forks = Seq("latest", "lake", "alerts")

  /** One running topology: file source → normalize → 3 forks, plus the
    * serving shim over the latest snapshot.
    */
  final class Topology(spark: SparkSession, base: Path, tag: String) {
    val src: Path = Files.createDirectories(base.resolve("src"))
    val stage: Path = Files.createDirectories(base.resolve("stage"))
    val lake: String = base.resolve("lake").toString
    val latestName = s"pb_latest_$tag"
    val alertsName = s"pb_alerts_$tag"
    private val archive = WeatherPipeline.normalize(
      spark.readStream.schema("value STRING").text(src.toString))
    val queries: Map[String, StreamingQuery] = Map(
      "latest" -> WeatherPipeline.startLatest(archive, latestName),
      "lake" -> WeatherPipeline.startArchive(archive, lake,
        base.resolve("ck").toString),
      "alerts" -> WeatherPipeline.startAlerts(archive, alertsName))
    val api = new QueryApi(spark,
      WeatherPipeline.latestSnapshot(spark, latestName), s"pb_serve_$tag")
    private val shim = new HttpShim(api)
    val port: Int = shim.start()

    /** Write the file beside the source dir, then move it in atomically.
      * Returns the epoch ms at which it became visible.
      */
    def land(f: WireFile): Long = {
      val tmp = stage.resolve(f.name)
      Files.write(tmp, f.bytes)
      Files.move(tmp, src.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    def drainAll(): Unit = queries.values.foreach(_.processAllAvailable())

    def stop(): Unit = {
      shim.stop()
      queries.values.foreach(_.stop())
    }
  }

  final case class Req(point: Boolean, id: Long, startMs: Long,
      latMs: Double, status: Int, body: String, err: String)

  def httpGet(url: String, timeoutMs: Int): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body =
      if (is == null) ""
      else try new String(is.readAllBytes(), "UTF-8") finally is.close()
    (code, body)
  }

  private def fieldLong(body: String, key: String): Option[Long] = {
    val i = body.indexOf(s""""$key":""")
    if (i < 0) None
    else body.substring(i + key.length + 3).takeWhile(c => c.isDigit || c == '-')
      .toLongOption
  }

  private def fieldStr(body: String, key: String): Option[String] = {
    val i = body.indexOf(s""""$key":"""")
    if (i < 0) None
    else Some(body.substring(i + key.length + 4).takeWhile(_ != '"'))
  }

  /** Closed-loop client: the next request goes out only when the previous
    * one has completed. The op mix and station picks come from the seed.
    */
  private def client(port: Int, seed: Long, i: Int, shape: Shape,
      untilMs: Long, out: ConcurrentLinkedQueue[Req]): Thread = {
    val t = new Thread(() => {
      val rng = new java.util.SplittableRandom(seed * 1000003L + i)
      while (System.currentTimeMillis() < untilMs) {
        val point = rng.nextDouble() >= ScanShare
        val id = 1L + rng.nextInt(shape.stations)
        val url =
          if (point) s"http://localhost:$port/station?id=$id"
          else s"http://localhost:$port/stations"
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val r =
          try {
            val (code, body) =
              httpGet(url, if (point) PointTimeoutMs else ScanTimeoutMs)
            Req(point, id, t0, (System.nanoTime() - n0) / 1e6, code, body, null)
          } catch {
            case e: Exception =>
              Req(point, id, t0, (System.nanoTime() - n0) / 1e6, -1, null,
                e.toString)
          }
        out.add(r)
        if (shape.thinkMs > 0) Thread.sleep(rng.nextInt(shape.thinkMs))
      }
    }, s"pb-client-$i")
    t.setDaemon(true)
    t
  }

  private def landAtHalfSecond(trace: Trace): Long = {
    val wait = (1500 - System.currentTimeMillis() % 1000) % 1000
    Thread.sleep(wait)
    trace.nowNs()
  }

  private def timeMs(f: => Any): Double = {
    val n = System.nanoTime(); f; (System.nanoTime() - n) / 1e6
  }

  /** Why a response fails the serve check, if it does. */
  private def reqError(r: Req, stations: Int): Option[String] =
    if (r.err != null) Some(s"${if (r.point) "point" else "scan"} failed: ${r.err}")
    else if (r.status != 200) Some(s"status ${r.status} for ${if (r.point) s"point ${r.id}" else "scan"}")
    else if (r.point) {
      if (fieldLong(r.body, "station_id").contains(r.id)) None
      else Some(s"point ${r.id} answered ${r.body.take(80)}")
    } else {
      val ids = "\"station_id\":(\\d+)".r.findAllMatchIn(r.body)
        .map(_.group(1).toLong).toSeq
      if (ids.isEmpty) Some("scan returned no stations")
      else if (ids.distinct.size != ids.size) Some("scan repeated a station")
      else if (ids.exists(s => s < 1 || s > stations)) Some("scan returned an unknown station")
      else None
    }

  /** Open-loop generator: lands each file at its due time, whatever the
    * program's state. Records how late each landing was.
    */
  private def generator(topo: Topology, files: Seq[WireFile],
      landed: mutable.ArrayBuffer[(WireFile, Long)]): Thread = {
    val t = new Thread(() => files.foreach { f =>
      var wait = f.dueMs - System.currentTimeMillis()
      while (wait > 0) {
        LockSupport.parkNanos(wait * 1000000L)
        wait = f.dueMs - System.currentTimeMillis()
      }
      val at = topo.land(f)
      landed.synchronized(landed += (f -> at))
    }, "pb-generator")
    t.setDaemon(true)
    t
  }

  /** Waits until every fork has read `rows` input rows; returns, per fork,
    * the end (epoch ms) of the batch that reached it.
    */
  private def awaitRows(log: StreamLog, topo: Topology, rows: Long,
      timeoutMs: Long): Map[String, Long] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def reached(f: String): Option[Long] = {
      var cum = 0L
      log.batches(topo.queries(f).id).find { p =>
        cum += p.numInputRows; cum >= rows
      }.map(StreamLog.endMs)
    }
    var done = Map.empty[String, Long]
    while (done.size < Forks.size) {
      Forks.filterNot(done.contains).foreach(f => reached(f).foreach(v => done += f -> v))
      if (done.size < Forks.size) {
        topo.queries.values.foreach(q => q.exception.foreach(e => throw e))
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"forks did not read $rows rows within $timeoutMs ms: " +
              Forks.map(f => f -> log.rowsIn(topo.queries(f).id)).mkString(", "))
        Thread.sleep(20)
      }
    }
    done
  }

  /** Ticks [q0, q0 + ticks) of every station, the first sent at t0, cut
    * into files of `fileMs` of send time each; a file is due when its
    * window closes.
    */
  private def cut(exp: Expected, gen: WireGen, prefix: String, q0: Long,
      ticks: Int, t0: Long, fileMs: Long): Seq[WireFile] = {
    val rs = for (s <- 1 to gen.stations; j <- 0 until ticks)
      yield (s, q0 + j, t0 + gen.phaseMs(s) + j.toLong * gen.periodMs)
    rs.groupBy(r => (r._3 - t0) / fileMs).toSeq.sortBy(_._1).map { case (b, xs) =>
      exp.file(f"$prefix$b%06d", t0 + (b + 1) * fileMs, xs.sortBy(_._3).iterator)
    }
  }

  private def seedTicks(gen: WireGen): Int = 1000 / gen.periodMs

  /** Starts a topology on `dir` over one tick of every station and waits
    * until all three forks hold it and the shim answers.
    */
  private def startReady(spark: SparkSession, dir: Path, tag: String,
      gen: WireGen, exp: Expected): Topology = {
    val topo = new Topology(spark, dir, tag)
    // one second of every station's readings, so each station is served
    val now = System.currentTimeMillis()
    cut(exp, gen, "s", 1L, seedTicks(gen), now - 1000, 1000).foreach(topo.land)
    require((1 to gen.stations).forall(exp.seq(_) >= 0),
      "a station has no valid reading in the seed second")
    topo.drainAll()
    val (c1, _) = httpGet(s"http://localhost:${topo.port}/station?id=1", 30000)
    val (c2, _) = httpGet(s"http://localhost:${topo.port}/stations", 30000)
    require(c1 == 200 && c2 == 200, s"serving not ready: point $c1, scan $c2")
    topo
  }

  /** Sequence number of the first steady tick, after the seed second. */
  private def steadyQ0(gen: WireGen): Long = 1L + seedTicks(gen)
  private def steadyTicks(shape: Shape, seconds: Int): Int =
    (WarmupSec + seconds) * shape.hz

  /** The backlog: the `burstSec` of readings before `tWarm`, delivered
    * late as `Bursts` files of equal send time, one per burst.
    */
  private def bursts(shape: Shape, seconds: Int, gen: WireGen, exp: Expected,
      tWarm: Long): Seq[WireFile] =
    cut(exp, gen, "b", steadyQ0(gen) + steadyTicks(shape, seconds),
      shape.burstSec * shape.hz, tWarm - shape.burstSec * 1000L,
      shape.burstSec * 1000L / Bursts)

  /** One burst's drain: rows ÷ (end of the batch in which the last fork
    * finished reading it − landing), with each fork's time.
    */
  final case class Drain(rows: Long, landMs: Long, endMs: Long,
      byFork: Map[String, Long]) {
    def rate: Double = rows * 1000.0 / (endMs - landMs)
  }

  /** Lands each burst once every fork has read all before it: one file,
    * so the whole burst becomes visible to every fork at once, mid-way
    * between two ticks of the lake fork's 1 s trigger, so the drain does
    * not depend on the trigger's phase. `rowsBefore` rows precede them.
    */
  private def drain(log: StreamLog, topo: Topology, files: Seq[WireFile],
      rowsBefore: Long, trace: Trace, span: String): Seq[Drain] = {
    var rows = rowsBefore
    files.map { f =>
      Files.write(topo.stage.resolve(f.name), f.bytes)
      val landNs = landAtHalfSecond(trace)
      Files.move(topo.stage.resolve(f.name), topo.src.resolve(f.name),
        StandardCopyOption.ATOMIC_MOVE)
      val landMs = System.currentTimeMillis()
      rows += f.lines.length
      val ends = awaitRows(log, topo, rows, 150000)
      trace.record(span, landNs, trace.epochMsToNs(ends.values.max),
        attrs = Map("rows" -> f.lines.length))
      Drain(f.lines.length, landMs, ends.values.max, ends.map { case (k, e) => k -> (e - landMs) })
    }
  }

  def run(shape: Shape, seed: Long, seconds: Int, trace: Trace,
      work: Path, eventsDir: Option[String]): Result = {
    eventsDir.foreach(Gates.validate(Gates.EventNames, _, Seq("events")))
    val gen = new WireGen(seed, shape.stations, shape.hz)
    val res = new Result
    val tasks = new TaskLog
    var log: StreamLog = null

    // set-up, several times: session + topology until it serves
    var spark: SparkSession = null
    var topo: Topology = null
    var exp: Expected = null
    val setup = (0 until SetupReps).map { rep =>
      trace.span("setup", attrs = Map("rep" -> rep)) { sid =>
        val t0 = System.nanoTime()
        if (topo != null) topo.stop()
        if (spark != null) spark.stop()
        spark = trace.span("session.build", sid)(_ => GraftSession.harnessSession())
        val built = System.nanoTime()
        log = new StreamLog
        spark.streams.addListener(log)
        exp = new Expected(gen)
        topo = trace.span("topology.start", sid)(_ =>
          startReady(spark, Files.createDirectories(work.resolve(s"rep$rep")),
            s"r$rep", gen, exp))
        val t1 = System.nanoTime()
        ((t1 - t0) / 1e9, (built - t0) / 1e9, (t1 - built) / 1e9)
      }
    }
    spark.sparkContext.addSparkListener(tasks)
    tasks.ctx = "live"
    Main.say(s"setup ${setup.map(_._1)}")
    res.metric("setup_s", Stats.median(setup.map(_._1)), "s")
    res.layer("session.build_s", Stats.median(setup.map(_._2)), "s")
    res.layer("session.warmup_s", setup.head._3 - Stats.median(setup.map(_._3)), "s")
    res.layer("session.stage_s", Stats.median(setup.map(_._3)), "s")

    // steady phase: open-loop files + closed-loop clients
    // the same traffic runs WarmupSec before the measured window opens at
    // t0. Files land at a fixed phase of the lake fork's 1 s trigger ticks
    // (x.250 s), so runs do not differ by that phase
    val tWarm = (System.currentTimeMillis() / 1000 + 2) * 1000 + 250 - FileMs
    val t0 = tWarm + WarmupSec * 1000L
    val steadyFiles = cut(exp, gen, "f", steadyQ0(gen), steadyTicks(shape, seconds),
      tWarm, FileMs)
    val steadyRows = steadyFiles.map(_.lines.length.toLong).sum
    val seedRows = exp.lines - steadyRows
    val landed = mutable.ArrayBuffer.empty[(WireFile, Long)]
    val reqs = new ConcurrentLinkedQueue[Req]()
    val endMs = t0 + seconds * 1000L
    val gcBefore = Proc.gcSeconds()
    val steadyId = trace.newId()
    val steadyNs0 = trace.epochMsToNs(tWarm)
    val genThread = generator(topo, steadyFiles, landed)
    val clients = (0 until Clients).map(i =>
      client(topo.port, seed, i, shape, endMs, reqs))
    genThread.start(); clients.foreach(_.start())
    genThread.join(); clients.foreach(_.join())
    trace.record("steady", steadyNs0, trace.nowNs(), id = steadyId)
    Main.say(s"steady done: ${reqs.size} requests")
    awaitRows(log, topo, seedRows + steadyRows, 120000)
    Main.say("steady drained")

    // bursts: the readings before the steady phase, delivered late
    val burstFiles = trace.span("burst.stage")(_ => bursts(shape, seconds, gen, exp, tWarm))
    val burstRows = burstFiles.map(_.lines.length.toLong).sum
    val drains = drain(log, topo, burstFiles, seedRows + steadyRows, trace, "burst.drain")
    val drainEndMs = drains.last.endMs
    res.info("drains", drains.map(d => Map("rows" -> d.rows, "ms_by_fork" -> d.byFork)))
    val gcLive = Proc.gcSeconds() - gcBefore
    Main.say(s"bursts drained at ${drains.map(_.rate.round)} rows/s")
    res.metric("live_heap_mb", Proc.liveHeapMb(), "MB")

    // end-to-end: event to queryable, over the steady rows
    val order = landed.sortBy(_._2).map(_._1)
    val latestBatches = log.batches(topo.queries("latest").id)
    val e2q = {
      val out = mutable.ArrayBuffer.empty[Double]
      var fi = 0
      var rowInFile = 0
      var consumedSeed = seedRows
      latestBatches.foreach { b =>
        var n = b.numInputRows
        val skip = consumedSeed.min(n); consumedSeed -= skip; n -= skip
        val end = StreamLog.endMs(b)
        while (n > 0 && fi < order.length) {
          val f = order(fi)
          val take = math.min(n, (f.lines.length - rowInFile).toLong).toInt
          (rowInFile until rowInFile + take).foreach { r =>
            if (f.sentMs(r) >= t0) out += (end - f.sentMs(r)).toDouble
          }
          rowInFile += take; n -= take
          if (rowInFile == f.lines.length) { fi += 1; rowInFile = 0 }
        }
      }
      out.toSeq
    }
    res.percentiles("ingest_e2q", e2q, Seq(50, 90), "ms")
    res.metric("ingest_drain_rows_per_s", Stats.median(drains.map(_.rate)), "rows/s")

    // serving
    val all = reqs.asScala.toSeq
    val measured = all.filter(_.startMs >= t0)
    val points = measured.filter(_.point)
    res.percentiles("point", points.map(_.latMs), Seq(50), "ms")
    res.metric("serve_rps", measured.size / seconds.toDouble, "req/s")
    val ages = points.filter(r => r.status == 200 && r.body != null).flatMap { r =>
      fieldStr(r.body, "status_timestamp").map(s =>
        r.startMs + r.latMs - java.sql.Timestamp.valueOf(s).getTime)
    }
    res.percentiles("served_age", ages, Seq(50), "ms")
    if (trace.enabled) all.foreach { r =>
      val s = trace.epochMsToNs(r.startMs)
      trace.record(if (r.point) "http.point" else "http.scan", s,
        s + (r.latMs * 1e6).toLong, steadyId, Map("status" -> r.status))
    }

    Main.say("metrics computed")
    // output checks, outside every timed region
    res.attempted += all.size
    all.flatMap(reqError(_, shape.stations)).foreach(res.fail)
    val lakeNs = trace.nowNs()
    val lakeRows = Archive.read(spark, topo.lake).count()
    val lakeScanS = (trace.nowNs() - lakeNs) / 1e9
    res.check(lakeRows == exp.valid, s"lake holds $lakeRows rows, generator sent ${exp.valid} valid")
    val alertRows = spark.table(topo.alertsName).count()
    res.check(alertRows == exp.alerts, s"alert sink holds $alertRows rows, expected ${exp.alerts}")
    val latest = WeatherPipeline.latestSnapshot(spark, topo.latestName).collect().map { r =>
      val w = r.getStruct(r.fieldIndex("weather"))
      (r.getAs[Long]("station_id"), r.getAs[Long]("s_no"),
        r.getAs[String]("battery_status"),
        r.getAs[java.sql.Timestamp]("status_timestamp").getTime,
        w.getAs[Int]("humidity"), w.getAs[Int]("temperature"),
        w.getAs[Int]("wind_speed"))
    }.toSeq
    val bad = exp.latestMismatches(latest)
    res.check(bad.isEmpty, s"latest table: ${bad.size} mismatches, first: ${bad.headOption.getOrElse("")}")
    Main.say("checks done")
    res.info("rows", Map("seed" -> seedRows, "steady" -> steadyRows,
      "burst" -> burstRows, "valid" -> exp.valid, "alerts" -> exp.alerts))

    // generator health
    val lateness = landed.map { case (f, at) => (at - f.dueMs).toDouble }.toSeq
    res.genLateness = lateness

    if (trace.enabled) {
      val window = (drainEndMs - t0).toDouble
      Forks.foreach { f =>
        val bs = log.batches(topo.queries(f).id)
        bs.foreach { b =>
          val s = trace.epochMsToNs(StreamLog.startMs(b))
          trace.record(s"batch.$f", s, s + StreamLog.dur(b, "triggerExecution") * 1000000L,
            attrs = Map("batch" -> b.batchId, "rows" -> b.numInputRows,
              "add_batch_ms" -> StreamLog.dur(b, "addBatch"),
              "planning_ms" -> StreamLog.dur(b, "queryPlanning")))
        }
        val live = bs.filter(b => StreamLog.startMs(b) >= t0 - 1000)
        def sum(k: String) = live.map(StreamLog.dur(_, k)).sum.toDouble
        res.layer(s"streaming.$f.batches", live.size, "count")
        res.layer(s"streaming.$f.input_rows", live.map(_.numInputRows).sum, "rows")
        res.layer(s"streaming.$f.trigger_ms_sum", sum("triggerExecution"), "ms")
        res.layer(s"streaming.$f.add_batch_ms_sum", sum("addBatch"), "ms")
        res.layer(s"streaming.$f.planning_ms_sum", sum("queryPlanning"), "ms")
        res.layer(s"streaming.$f.commit_ms_sum", sum("walCommit") + sum("commitOffsets"), "ms")
        res.layer(s"streaming.$f.busy_share", sum("triggerExecution") / window, "ratio")
      }
      val lastLatest = latestBatches.last
      res.layer("streaming.latest.state_rows",
        lastLatest.stateOperators.map(_.numRowsTotal).sum, "rows")
      res.layer("streaming.latest.state_bytes",
        lastLatest.stateOperators.map(_.memoryUsedBytes).sum, "bytes")
      res.layer("streaming.latest.state_commit_ms_sum",
        latestBatches.map(StreamLog.stateCommitMs).sum, "ms")

      // source side: rows landed but not yet admitted, at each batch start
      val landedAt = landed.map { case (f, at) => (at, f.lines.length.toLong) }.sortBy(_._1)
      var admitted = seedRows
      val backlog = latestBatches.filter(b => StreamLog.startMs(b) >= t0 &&
          StreamLog.startMs(b) <= endMs).map { b =>
        val st = StreamLog.startMs(b)
        val pending = landedAt.takeWhile(_._1 <= st).map(_._2).sum + seedRows - admitted
        admitted += b.numInputRows
        pending.toDouble
      }
      res.layer("sources.backlog_rows_max", if (backlog.isEmpty) 0.0 else backlog.max, "rows")
      res.layer("sources.offset_ms_sum", latestBatches.map(b =>
        StreamLog.dur(b, "latestOffset") + StreamLog.dur(b, "getBatch")).sum, "ms")

      // lake layout
      val lakeFiles = Files.walk(java.nio.file.Paths.get(topo.lake)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      res.layer("lake.files_written", lakeFiles.size, "count")
      res.layer("lake.bytes_written", lakeFiles.map(Files.size).sum, "bytes")
      res.layer("lake.partitions", lakeFiles.map(_.getParent).distinct.size, "count")
      res.layer("lake.scan_s", lakeScanS, "s")

      // serving: shim cost = HTTP minus direct API, on an idle pipeline
      tasks.ctx = "probe"
      val probeRng = new java.util.SplittableRandom(seed ^ 0x5EL)
      val probeIds = Seq.fill(21)(1L + probeRng.nextInt(shape.stations))
      val probe = trace.span("serve.probe") { sid =>
        def timed(name: String)(f: => Unit): Double =
          trace.span(name, sid)(_ => timeMs(f))
        val base = s"http://localhost:${topo.port}"
        val apiPoint = probeIds.map(id => timed("api.point")(topo.api.point(id)))
        val httpPoint = probeIds.map(id => timed("http.point")(httpGet(s"$base/station?id=$id", PointTimeoutMs)))
        val apiScan = probeIds.map(_ => timed("api.scan")(topo.api.scan().collect()))
        val httpScan = probeIds.map(_ => timed("http.scan")(httpGet(s"$base/stations", ScanTimeoutMs)))
        (apiPoint, httpPoint, apiScan, httpScan)
      }
      res.layer("serve.http_point_ms_p50", Stats.median(probe._2), "ms")
      res.layer("serve.api_point_ms_p50", Stats.median(probe._1), "ms")
      res.layer("serve.http_scan_ms_p50", Stats.median(probe._4), "ms")
      res.layer("serve.api_scan_ms_p50", Stats.median(probe._3), "ms")
      res.layer("serve.jobs_per_request",
        tasks.c.get("probe.direct_jobs").toDouble / (4 * probeIds.size), "jobs")
      res.layer("serve.sink_rows_end", spark.table(topo.latestName).count(), "rows")
    }
    topo.stop()
    Main.say("topology stopped")

    if (trace.enabled) {
      // the burst's input through the batch API, one layer at a time
      tasks.ctx = "core"
      val raw = spark.read.schema("value STRING").text(
        burstFiles.map(f => topo.src.resolve(f.name).toString): _*)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val t = trace.span("core") { sid =>
        val n = trace.span("core.normalize", sid)(_ => timeMs(noop(WeatherPipeline.normalize(raw))))
        val norm = WeatherPipeline.normalize(raw).localCheckpoint(true)
        val l = trace.span("core.latest", sid)(_ => timeMs(noop(LatestState.latest(norm))))
        val a = trace.span("core.alerts", sid)(_ => timeMs(noop(Alerts.alerts(norm, "station_id"))))
        (n, l, a)
      }
      res.layer("core.normalize_s", t._1 / 1000, "s")
      res.layer("core.latest_s", t._2 / 1000, "s")
      res.layer("core.alerts_s", t._3 / 1000, "s")
      res.layer("jvm.gc_s", gcLive, "s")

      // one pass of the event gates over the events table generated from
      // the seed, for the gates.* and storage.* layers
      eventsDir.foreach { dir =>
        val runner = new Gates.Runner(spark, trace, dir)
        val ns0 = System.nanoTime()
        runner.pass(new scala.util.Random(seed).shuffle(Gates.EventNames), 1)
        runner.layers(res, (System.nanoTime() - ns0) / 1e9)
        runner.record(res)
        Main.say("gates pass done")
      }
    }
    spark.stop()
    res
  }

  /** The bursts of `shape` drained by a fresh topology in a session of its
    * own, on however many cores SPARK_GRAFT_CPUS grants: the baseline for
    * the drain rate.
    */
  def local1(shape: Shape, seed: Long, seconds: Int, trace: Trace,
      work: Path): Result = {
    val gen = new WireGen(seed, shape.stations, shape.hz)
    val exp = new Expected(gen)
    val res = new Result
    val spark = GraftSession.harnessSession()
    val log = new StreamLog
    spark.streams.addListener(log)
    val topo = trace.span("local1.start")(_ =>
      startReady(spark, Files.createDirectories(work.resolve("local1")), "l1", gen, exp))
    val seedRows = exp.lines
    val files = bursts(shape, seconds, gen, exp, System.currentTimeMillis())
    val drains = drain(log, topo, files, seedRows, trace, "local1.drain")
    res.layer("streaming.local1_drain_rows_per_s", Stats.median(drains.map(_.rate)), "rows/s")
    res.info("local1", Map("cores" -> spark.sparkContext.defaultParallelism,
      "drains" -> drains.map(d => Map("rows" -> d.rows, "ms_by_fork" -> d.byFork))))
    topo.stop()
    spark.stop()
    res
  }
}
