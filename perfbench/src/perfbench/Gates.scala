package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Operator gates, run in passes. Each gate is timed in three parts: build
  * (the `SparkEntry.queries(name)(spark, dir)` call), plan (forcing the
  * executed plan of the count that then runs) and exec (running it). A gate
  * whose build starts a streaming query is in the stream class.
  */
object Gates {

  /** Weather-event gates that read only `events.parquet`, which the
    * benchmark generates from the seed, so a traced run of a listed
    * workload measures them on its own inputs: every stream gate of the
    * `gates` list that needs no other table, and the batch gates but
    * three (about 11 s, which a traced run has no room for).
    */
  val EventNames: Seq[String] = Seq(
    "p_wire_source", "p_latest_stream", "p_latest_tws",
    "p_dedup_stream", "p_session_stream_append", "p_stream_join_rocks",
    "p_lake_concurrent", "p_stream_sink_lake",
    "p_json_parse", "p_normalize", "p_filter_alert", "p_latest_per_key",
    "p_point_lookup", "p_partition_counts", "p_full_scan", "p_lake_history",
    "p_schema_evolve", "p_snapshot_delete", "p_merge_upsert", "p_cdc_apply")

  /** The `gates` workload: the event gates plus the rest of the weather
    * gates and the similarity, text, graph and analytics gates, over the
    * sf0.1 tables.
    */
  val SfNames: Seq[String] = EventNames ++ Seq(
    "p_wire_decode", "p_lake_zorder", "p_compact_files", "x_ann_stream",
    "x_ann_ivfpq_stream", "x_ann_lsh_append", "x_dedup_stream", "x_ann_compact", "x_rag_bm25", "x_rag_passage",
    "x_graph_pagerank", "x_pipeline_e2e", "q1_pricing_summary",
    "q5_revenue_nation", "q13_cube", "q19_correlated", "q24_interval_join",
    "q33_recursive")

  val SfTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val SetupReps = 3

  final case class Gate(name: String, pass: Int, stream: Boolean, rows: Long,
      build: Double, plan: Double, exec: Double, error: String) {
    def wall: Double = build + plan + exec
    def cls: String = if (stream) "stream" else "batch"
  }

  /** Set-up failures are fatal: an unknown gate or a missing table. */
  def validate(names: Seq[String], dir: String, tables: Seq[String]): Unit = {
    val unknown = names.filterNot(n =>
      SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
    if (unknown.nonEmpty) Main.die(s"unknown gates: ${unknown.mkString(", ")}")
    tables.foreach { t =>
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t.parquet")))
        Main.die(s"no $t.parquet in $dir")
    }
  }

  /** Runs gates on one session, counting their jobs, tasks and streaming
    * batches with Spark's public listeners.
    */
  final class Runner(spark: SparkSession, trace: Trace, dir: String) {
    private val tasks = new TaskLog
    private val log = new StreamLog
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(log)
    private val queryGate = mutable.Map.empty[java.util.UUID, (Int, String)]
    val gates = mutable.ArrayBuffer.empty[Gate]

    private def runGate(name: String, pass: Int): Gate = {
      tasks.ctx = s"pass$pass.$name"
      val started0 = log.startedIds.size
      val g = trace.span("gate", attrs = Map("gate" -> name, "pass" -> pass)) { gid =>
        var stream = false
        def part[T](p: String)(f: => T): (T, Double) =
          trace.span(s"gate.$p", gid, Map("gate" -> name)) { _ =>
            val n = System.nanoTime(); val v = f; (v, (System.nanoTime() - n) / 1e9)
          }
        try {
          val (df, b) = part("build")(SparkEntry.queries(name)(spark, dir))
          val started = log.startedIds.drop(started0)
          stream = started.nonEmpty
          started.foreach(queryGate(_) = (pass, name))
          val counted = df.groupBy().count()
          val (_, p) = part("plan")(counted.queryExecution.executedPlan)
          val (rows, e) = part("exec")(counted.collect().head.getLong(0))
          Gate(name, pass, stream, rows, b, p, e, null)
        } catch {
          case e: Throwable => Gate(name, pass, stream, -1, 0, 0, 0, e.toString)
        }
      }
      // a gate's streams must not run on under the next gate's timer
      spark.streams.active.foreach(_.stop())
      tasks.ctx = "idle"
      g
    }

    /** One pass over `names` in the given order; pass 0 is a warm-up and is
      * not kept.
      */
    def pass(names: Seq[String], pass: Int): Seq[Gate] = {
      val gs = trace.span("pass", attrs = Map("pass" -> pass))(_ => names.map(runGate(_, pass)))
      if (pass > 0) gates ++= gs
      gs
    }

    def passes: Int = gates.map(_.pass).distinct.size

    /** Summed wall time of one class's gates, median over passes. */
    def classSeconds(c: String): Double =
      Stats.median(gates.groupBy(_.pass).values.map(_.filter(_.cls == c).map(_.wall).sum).toSeq)

    def record(res: Result): Unit = {
      res.attempted += gates.size
      gates.filter(_.error != null).foreach(g => res.fail(s"gate ${g.name} failed: ${g.error}"))
      res.info("gates_dir", dir)
      res.info("gates", gates.map(g => Map("name" -> g.name, "pass" -> g.pass,
        "class" -> g.cls, "rows" -> g.rows, "build_s" -> g.build,
        "plan_s" -> g.plan, "exec_s" -> g.exec, "error" -> g.error)))
      res.info("oracle_sql", gates.map(_.name).distinct
        .map(n => n -> SparkEntry.oracleSql(n)).toMap)
    }

    /** Per-layer metrics, as means per pass so that runs with different
      * pass counts compare. `wallS` is the measured passes' wall time.
      */
    def layers(res: Result, wallS: Double): Unit = {
      val n = passes.toDouble
      Seq("stream", "batch").foreach { c =>
        val gs = gates.filter(_.cls == c)
        def sum(k: String) = gs.map(g => tasks.c.get(s"pass${g.pass}.${g.name}.$k")).sum / n
        res.layer(s"gates.$c.build_s", gs.map(_.build).sum / n, "s")
        res.layer(s"gates.$c.plan_s", gs.map(_.plan).sum / n, "s")
        res.layer(s"gates.$c.exec_s", gs.map(_.exec).sum / n, "s")
        res.layer(s"gates.$c.jobs", sum("jobs"), "count")
        res.layer(s"gates.$c.stages", sum("stages"), "count")
        res.layer(s"gates.$c.tasks", sum("tasks"), "count")
        res.layer(s"gates.$c.executor_run_s", sum("run_ms") / 1e3, "s")
        res.layer(s"gates.$c.executor_cpu_s", sum("cpu_ns") / 1e9, "s")
        res.layer(s"gates.$c.gc_s", sum("gc_ms") / 1e3, "s")
        res.layer(s"gates.$c.shuffle_write_mb", sum("shuffle_write_b") / 1048576, "MB")
        res.layer(s"gates.$c.spill_mb", sum("spill_b") / 1048576, "MB")
      }
      val progress = log.all.filter(p => queryGate.get(p.id).exists(_._1 > 0) &&
          p.numInputRows > 0).groupBy(p => (p.id, p.batchId)).values.map(_.head).toSeq
      res.layer("gates.stream.batches", progress.size / n, "count")
      res.layer("gates.stream.add_batch_ms_sum",
        progress.map(StreamLog.dur(_, "addBatch")).sum / n, "ms")
      res.layer("gates.stream.commit_ms_sum", progress.map(p =>
        StreamLog.dur(p, "walCommit") + StreamLog.dur(p, "commitOffsets")).sum / n, "ms")
      res.layer("gates.stream.state_commit_ms_sum",
        progress.map(StreamLog.stateCommitMs).sum / n, "ms")
      val runS = gates.map(g => tasks.c.get(s"pass${g.pass}.${g.name}.run_ms")).sum / 1e3
      res.layer("gates.executor_busy_share",
        runS / (wallS * spark.sparkContext.defaultParallelism), "ratio")
      val storage = spark.sparkContext.getRDDStorageInfo
      res.layer("storage.block_mb_end",
        storage.map(r => r.memSize + r.diskSize).sum / 1048576.0, "MB")
      res.layer("storage.rdd_blocks_end", storage.map(_.numCachedPartitions).sum, "count")
    }
  }

  /** The `gates` workload over the sf0.1 tables in `dir`: set-up several
    * times, one unmeasured warm-up pass, then whole passes, each in an
    * order the seed decides, until `seconds` are spent.
    */
  def run(seed: Long, seconds: Int, trace: Trace, dir: String): Result = {
    validate(SfNames, dir, SfTables)
    val rng = new scala.util.Random(seed)
    val res = new Result

    // any failure here aborts the run rather than leaking into a gate's time
    var spark: SparkSession = null
    val setup = (0 until SetupReps).map { rep =>
      trace.span("setup", attrs = Map("rep" -> rep)) { sid =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = trace.span("session.build", sid)(_ => GraftSession.harnessSession())
        val built = System.nanoTime()
        trace.span("session.stage", sid) { _ =>
          SfTables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
          SparkEntry.prestage(spark, dir)
        }
        val t1 = System.nanoTime()
        ((t1 - t0) / 1e9, (built - t0) / 1e9, (t1 - built) / 1e9)
      }
    }
    Main.say(s"setup ${setup.map(_._1)}")
    res.metric("setup_s", Stats.median(setup.map(_._1)), "s")
    res.layer("session.build_s", Stats.median(setup.map(_._2)), "s")
    res.layer("session.warmup_s", setup.head._1 - Stats.median(setup.map(_._1)), "s")
    res.layer("session.stage_s", Stats.median(setup.map(_._3)), "s")

    val runner = new Runner(spark, trace, dir)
    runner.pass(rng.shuffle(SfNames), 0).filter(_.error != null)
      .foreach(g => Main.die(s"gate ${g.name} failed in the warm-up pass: ${g.error}"))
    val gcBefore = Proc.gcSeconds()
    val ns0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - ns0 < seconds * 1000000000L) {
      pass += 1
      runner.pass(rng.shuffle(SfNames), pass)
    }
    val wallS = (System.nanoTime() - ns0) / 1e9
    val gcS = Proc.gcSeconds() - gcBefore
    Main.say(s"$pass passes in $wallS s")
    Seq("stream", "batch").foreach(c => res.metric(s"gates_${c}_s", runner.classSeconds(c), "s"))
    res.metric("live_heap_mb", Proc.liveHeapMb(), "MB")
    runner.record(res)
    if (trace.enabled) {
      runner.layers(res, wallS)
      res.layer("jvm.gc_s", gcS, "s")
    }
    spark.stop()
    res
  }
}
