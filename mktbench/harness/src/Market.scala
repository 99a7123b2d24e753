package mktbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.model._
import graft.sources.JsonTopics
import graft.streaming.MarketDataflow

/** The market-loop workload. The loop is wired as `graft.tools.
  * StreamBench` wires it: three queries chained through JSON topic
  * directories, J1 pricing (orders + prices -> updaters), T1 ledger
  * (updaters + invests + returns -> events) and T2 ROI timers (events ->
  * returns), each read and written through `JsonTopics`, with the
  * default trigger and the `_ => 0.05` sampler. Outputs are observed
  * from outside: the file sinks' commit logs give each output file's
  * commit time, and the queries' progress events give the per-batch
  * phases. */
object Market {
  val Queries: Seq[String] = Seq("j1_pricing", "t1_ledger", "t2_roi")
  private val DayMs = 86400000L

  final class Topics(val root: Path) {
    private def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val orders: String = dir("orders"); val prices: String = dir("prices")
    val invests: String = dir("invests"); val updaters: String = dir("updaters")
    val events: String = dir("events"); val returns: String = dir("returns")
    def cp(q: String): Path = root.resolve(s"cp_$q")
  }

  private val orderSchema = Encoders.product[MarketOrder].schema
  private val priceSchema = Encoders.product[SharePriceInfo].schema
  private val updaterSchema = Encoders.product[TraderStateUpdater].schema
  private val eventSchema = Encoders.product[TxnEvent].schema

  private def envelope(df: DataFrame): DataFrame = df.select(col("_1").as("key"), col("_2").as("value"))

  /** Starts the three queries, named. */
  def start(spark: SparkSession, t: Topics): Seq[(String, StreamingQuery)] = {
    import spark.implicits._
    val ordersIn = JsonTopics.readStream(spark, t.orders, "string", orderSchema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, MarketOrder)]
    val pricesIn = JsonTopics.readStream(spark, t.prices, "string", priceSchema)
      .select("value.*").as[SharePriceInfo]
    val j1 = JsonTopics.writeStream(envelope(MarketDataflow.priceOrders(spark, ordersIn, pricesIn).toDF()),
      t.updaters, t.cp("j1_pricing").toString)
    // invests ride their own topic: a file sink's output dir is read
    // through its commit log only, so files dropped beside it are unseen
    val updatersIn = JsonTopics.readStream(spark, t.updaters, "string", updaterSchema)
      .union(JsonTopics.readStream(spark, t.invests, "string", updaterSchema))
      .union(JsonTopics.readStream(spark, t.returns, "string", updaterSchema))
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TraderStateUpdater)]
    val t1 = JsonTopics.writeStream(envelope(MarketDataflow.ledger(spark, updatersIn).toDF()),
      t.events, t.cp("t1_ledger").toString)
    val eventsIn = JsonTopics.readStream(spark, t.events, "string", eventSchema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TxnEvent)]
    val t2 = JsonTopics.writeStream(envelope(MarketDataflow.roiReturns(spark, eventsIn, _ => 0.05).toDF()),
      t.returns, t.cp("t2_roi").toString)
    Seq("j1_pricing" -> j1, "t1_ledger" -> t1, "t2_roi" -> t2)
  }

  /** Progress events of the market queries. */
  final class Progress extends StreamingQueryListener {
    val byId = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byId.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      Option(byId.get(q.id)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  /** Reads a file sink's commit log from outside: each newly committed
    * output file, with the commit time of the log entry that added it. */
  final class SinkLog(dir: String) {
    private val meta = Paths.get(dir, "_spark_metadata")
    private val seenLogs = mutable.Set[String]()
    private val seenFiles = mutable.Set[String]()
    private val LogName = "(\\d+)(\\.compact)?".r
    private val PathField = "\"path\":\"([^\"]+)\"".r

    def poll(): Seq[(Path, Double)] = {
      if (!Files.isDirectory(meta)) return Nil
      val logs = Files.list(meta).iterator().asScala.map(_.getFileName.toString).collect {
        case n @ LogName(b, _) if !seenLogs(n) => (b.toLong, n)
      }.toSeq.sortBy(_._1)
      logs.flatMap { case (_, n) =>
        seenLogs += n
        val f = meta.resolve(n)
        val commitMs = Files.getLastModifiedTime(f).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
        PathField.findAllMatchIn(Files.readString(f)).map(_.group(1)).filter(seenFiles.add)
          .map(p => (Paths.get(new URI(p)), commitMs)).toSeq
      }
    }
  }

  /** What the loop has committed so far, keyed by txnId. */
  final class Observer(t: Topics) {
    private val mapper = new ObjectMapper()
    private val eventsLog = new SinkLog(t.events)
    private val returnsLog = new SinkLog(t.returns)
    val events = mutable.HashMap[(String, String), mutable.ArrayBuffer[Double]]()
    val acceptedInvests = mutable.HashMap[String, Double]() // txnId -> totalInvestments
    val returns = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()

    private def lines(p: Path): Iterator[com.fasterxml.jackson.databind.JsonNode] =
      Files.readAllLines(p).asScala.iterator.filter(_.nonEmpty).map(mapper.readTree)

    /** Reads what was committed since the last call; true if anything was. */
    def poll(): Boolean = {
      val newEvents = eventsLog.poll()
      val newReturns = returnsLog.poll()
      newEvents.foreach { case (p, ms) =>
        lines(p).foreach { n =>
          val r = n.get("value").get("txnResult")
          val id = r.get("txnId").asText
          val op = r.get("opType").asText
          events.getOrElseUpdate((id, op), mutable.ArrayBuffer()) += ms
          if (op == UpdaterType.INVEST && r.get("status").asText == TxnResultType.ACCEPTED)
            acceptedInvests(id) = n.get("value").get("totalInvestments").asDouble
        }
      }
      newReturns.foreach { case (p, ms) =>
        lines(p).foreach(n => returns.getOrElseUpdate(n.get("value").get("txnId").asText,
          mutable.ArrayBuffer()) += ms)
      }
      newEvents.nonEmpty || newReturns.nonEmpty
    }

    /** Every op has its TxnEvent, and every accepted INVEST its RETURN,
      * folded back into the ledger. */
    def complete(ops: Seq[(String, String)]): Boolean =
      ops.forall(events.contains) &&
        acceptedInvests.keys.forall(id => returns.contains(id) && events.contains((id, UpdaterType.RETURN)))

    def firstCommit(k: (String, String)): Option[Double] = events.get(k).map(_.min)
  }

  /** The generator's schedule, read back from its summary. */
  final case class Schedule(ticks: Int, ordersPerTick: Int, investsPerTick: Int, pricesPerTick: Int) {
    def allOps: Seq[(String, String)] =
      (0 until ticks).flatMap(k => (0 until ordersPerTick).map(j => (s"o${k * ordersPerTick + j}", UpdaterType.MARKET)) ++
        (0 until investsPerTick).map(j => (s"i${k * investsPerTick + j}", UpdaterType.INVEST)))
    def rows: Long = ticks.toLong * (ordersPerTick + investsPerTick + pricesPerTick)
  }

  private def readSchedule(p: Path): Schedule = {
    val n = new ObjectMapper().readTree(Files.readString(p))
    Schedule(n.get("ticks").asInt, n.get("orders_per_tick").asInt, n.get("invests_per_tick").asInt,
      n.get("prices_per_tick").asInt)
  }

  /** Runs the generator to completion as a separate process: `seconds`
    * of schedule, ending now, written as a backlog under `root`. */
  private def generate(a: Args, root: Path, seed: Long, seconds: Int): Schedule = {
    val summary = root.resolve("gen_summary.json")
    val cmd = Seq(a.python, a.gen, "--root", root.toString, "--seed", seed.toString,
      "--seconds", seconds.toString, "--start-ms", (System.currentTimeMillis() - seconds * 1000L).toString,
      "--summary", summary.toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(root.resolve("gen.log").toFile).start()
    try {
      val rc = p.waitFor()
      require(rc == 0, s"generator exited with $rc: ${Files.readString(root.resolve("gen.log")).take(500)}")
    } finally if (p.isAlive) { p.destroy(); p.waitFor() }
    readSchedule(summary)
  }

  /** A loop run: queries, observer and the phase of each failure. */
  final class Loop(spark: SparkSession, val t: Topics, progress: Progress) {
    val queries: Seq[(String, StreamingQuery)] = start(spark, t)
    val observer = new Observer(t)
    val phaseFailures = mutable.LinkedHashMap("run" -> 0L, "teardown" -> 0L, "check" -> 0L)
    val errors = mutable.ArrayBuffer[String]()

    /** Polls until the completion condition holds or a query dies. */
    def await(ops: Seq[(String, String)], timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var done = false
      while (!done && System.currentTimeMillis() < deadline && queries.forall(_._2.isActive)) {
        done = observer.poll() && observer.complete(ops)
        if (!done) Thread.sleep(50)
      }
      done
    }

    def stop(): Unit = {
      queries.foreach { case (n, q) =>
        if (!q.isActive) q.exception.foreach { e =>
          phaseFailures("run") += 1; errors += s"run $n: ${e.getMessage.take(300)}" }
      }
      queries.foreach { case (n, q) =>
        try q.stop()
        catch { case e: Throwable =>
          phaseFailures("teardown") += 1; errors += s"teardown $n: ${e.toString.take(300)}" }
      }
      observer.poll()
    }

    def batches(name: String): Seq[StreamingQueryProgress] =
      progress.of(queries.find(_._1 == name).get._2)
  }

  /** Failed ops: any op without exactly one TxnEvent, any accepted INVEST
    * without exactly one RETURN updater and one folded RETURN event, and
    * any txnId whose TxnEvent differs from `MarketDataflow.ledgerBatch`
    * replayed over the run's own input topics. */
  def check(spark: SparkSession, loop: Loop, ops: Seq[(String, String)]): (Long, Long, Map[String, Any]) = {
    val o = loop.observer
    val badCount = ops.count(k => o.events.get(k).map(_.size).getOrElse(0) != 1)
    val badReturn = o.acceptedInvests.keys.count(id =>
      o.returns.get(id).map(_.size).getOrElse(0) != 1 ||
        o.events.get((id, UpdaterType.RETURN)).map(_.size).getOrElse(0) != 1)
    val ledgerDiff = ledgerMismatch(spark, loop.t)
    val failed = badCount + badReturn + ledgerDiff
    loop.phaseFailures("check") += failed
    val attempted = ops.size.toLong + o.acceptedInvests.size
    (attempted, failed, Map("ops_without_one_event" -> badCount,
      "invests_without_one_return" -> badReturn, "ledger_mismatch_txns" -> ledgerDiff,
      "accepted_invests" -> o.acceptedInvests.size))
  }

  /** Source files of each batch of a query, from its checkpoint:
    * `offsets/N` holds each source's log offset after batch N, and
    * the logs under `sources/<i>` list the files behind each offset. */
  def batchFiles(cp: Path): Seq[(Long, Int, String, Long)] = {
    // planned batches, not only those in `commits`: a stop can land
    // after a batch's sink commit and before its commit-log entry
    val offsets = listNums(cp.resolve("offsets")).sorted.map { n =>
      n -> Files.readAllLines(cp.resolve("offsets").resolve(n.toString)).asScala.drop(2)
        .map(l => "\"logOffset\":(-?\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L))
    }
    val srcDirs = Option(cp.resolve("sources").toFile.list()).map(_.toSeq).getOrElse(Nil)
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted
    val entries = srcDirs.map { i =>
      val d = cp.resolve("sources").resolve(i.toString)
      i -> Files.list(d).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala.drop(1)).flatMap { l =>
          for (p <- "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l);
               ts <- "\"timestamp\":(\\d+)".r.findFirstMatchIn(l);
               b <- "\"batchId\":(\\d+)".r.findFirstMatchIn(l))
          yield (p.group(1), ts.group(1).toLong, b.group(1).toLong)
        }.toSeq.distinct
    }.toMap
    var prev = Map.empty[Int, Long].withDefaultValue(-1L)
    offsets.flatMap { case (n, offs) =>
      val files = offs.zipWithIndex.flatMap { case (off, i) =>
        entries.getOrElse(i, Nil).filter { case (_, _, b) => b > prev(i) && b <= off }
          .map { case (p, ts, _) => (n, i, p, ts) }
      }
      prev = offs.zipWithIndex.map { case (off, i) => i -> off }.toMap.withDefaultValue(-1L)
      files
    }
  }

  private def listNums(d: Path): Seq[Long] =
    Option(d.toFile.list()).map(_.toSeq).getOrElse(Nil).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  private def norm(p: String): String = new URI(p).getPath

  /** The streaming ledger folds each micro-batch's rows per trader in
    * (time, txnId) order, batch after batch. Shifting every input row by
    * its T1 batch number in days makes `ledgerBatch`'s (time, txnId)
    * order the same; the shift is undone on the output. */
  private def ledgerMismatch(spark: SparkSession, t: Topics): Long = {
    import spark.implicits._
    val batchOf = batchFiles(t.cp("t1_ledger")).map { case (n, _, p, _) => norm(p) -> n }.toMap
    val inputs = Seq(t.updaters, t.invests, t.returns)
      .map(d => JsonTopics.read(spark, d, "string", updaterSchema).withColumn("f", input_file_name()))
      .reduce(_ union _)
    val fileBatch = inputs.select("f").distinct().as[String].collect()
      .map(f => (f, batchOf.getOrElse(norm(f), -1L))).toSeq.toDF("f", "batch")
    val tagged = inputs.join(fileBatch, "f")
    val unbatched = tagged.filter(col("batch") < 0).count()
    val base = tagged.agg(min(unix_millis(col("value.time")))).as[Long].head() - 1
    val shifted = tagged.select(col("key").as("_1"), col("value").withField("time",
      timestamp_millis(unix_millis(col("value.time")) + col("batch") * DayMs)).as("_2"))
      .as[(String, TraderStateUpdater)]
    val ms = unix_millis(col("value.txnResult.state.time"))
    val expected = MarketDataflow.ledgerBatch(spark, shifted).toDF("key", "value")
      .withColumn("value", col("value").withField("txnResult.state.time",
        timestamp_millis(ms - floor((ms - lit(base)) / DayMs) * DayMs)))
    val actual = JsonTopics.read(spark, t.events, "string", eventSchema)
    val diff = actual.exceptAll(expected).union(expected.exceptAll(actual))
      .select(col("value.txnResult.txnId")).distinct().count()
    diff + unbatched
  }

  // ------------------------------------------------------------ layers

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def useful(p: StreamingQueryProgress): Boolean =
    p.numInputRows > 0 || Option(p.sink).exists(_.numOutputRows > 0) ||
      p.stateOperators.exists(s => s.numRowsRemoved > 0 || s.numRowsUpdated > 0)

  private def custom(p: StreamingQueryProgress, k: String): Double =
    p.stateOperators.map(s => Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** Per-layer metrics and batch spans of the batches that started at
    * or after `fromMs`. Both are read after the run, from progress
    * events and checkpoints, so they cost the run nothing. */
  def layers(loop: Loop, fromMs: Double): (Map[String, Double], Seq[Span]) = {
    val m = mutable.LinkedHashMap[String, Double]()
    val spans = mutable.ArrayBuffer[Span]()
    Queries.foreach { q =>
      val all = loop.batches(q).filter(p => startMs(p) >= fromMs)
      val data = all.filter(_.numInputRows > 0)
      val files = batchFiles(loop.t.cp(q)).groupBy(_._1)
      val lag = all.flatMap { p =>
        files.get(p.batchId).map(fs => startMs(p) - fs.map(_._4).min)
      }
      val rows = data.map(_.numInputRows.toDouble)
      m ++= Seq(
        s"sources.$q.latest_offset_ms_p50" -> Stats.median(all.map(dur(_, "latestOffset"))),
        s"sources.$q.get_batch_ms_p50" -> Stats.median(data.map(dur(_, "getBatch"))),
        s"sources.$q.rows_per_batch_p50" -> Stats.median(rows),
        s"sources.$q.read_lag_ms_p50" -> Stats.median(lag),
        s"streaming.$q.batches" -> all.size.toDouble,
        s"streaming.$q.useful_batch_ratio" -> (if (all.isEmpty) 0.0 else all.count(useful).toDouble / all.size),
        s"streaming.$q.trigger_ms_p50" -> Stats.median(all.map(dur(_, "triggerExecution"))),
        s"streaming.$q.trigger_ms_p95" -> Stats.pct(all.map(dur(_, "triggerExecution")), 0.95),
        s"streaming.$q.add_batch_ms_p50" -> Stats.median(all.map(dur(_, "addBatch"))),
        s"streaming.$q.planning_ms_p50" -> Stats.median(all.map(dur(_, "queryPlanning"))),
        s"streaming.$q.wal_commit_ms_p50" -> Stats.median(all.map(dur(_, "walCommit"))),
        s"streaming.$q.commit_offsets_ms_p50" -> Stats.median(all.map(dur(_, "commitOffsets"))),
        s"streaming.$q.ns_per_row" -> (if (rows.sum > 0) data.map(dur(_, "triggerExecution")).sum * 1e6 / rows.sum else 0.0),
        s"state.$q.stores" -> all.lastOption.map(_.stateOperators.map(_.numStateStoreInstances).sum.toDouble).getOrElse(0.0),
        s"state.$q.rows_total" -> all.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        s"state.$q.rows_updated" -> all.map(_.stateOperators.map(_.numRowsUpdated).sum.toDouble).sum,
        s"state.$q.commit_ms_p50" -> Stats.median(all.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        s"state.$q.fsync_ms_p50" -> Stats.median(all.map(custom(_, "rocksdbCommitFileSyncLatencyMs"))),
        s"state.$q.flush_ms_p50" -> Stats.median(all.map(custom(_, "rocksdbCommitFlushLatency"))),
        s"state.$q.mem_bytes" -> all.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0))
      all.foreach { p =>
        val tr = s"$q#${p.batchId}"
        val s0 = startMs(p)
        spans += Span("batch", tr, "", s0, s0 + dur(p, "triggerExecution"), Map(
          "query" -> q, "rows" -> p.numInputRows,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
          "state_rows_total" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_rows_updated" -> p.stateOperators.map(_.numRowsUpdated).sum,
          "state_stores" -> p.stateOperators.map(_.numStateStoreInstances).sum,
          "fsync_ms" -> custom(p, "rocksdbCommitFileSyncLatencyMs"),
          "flush_ms" -> custom(p, "rocksdbCommitFlushLatency")))
        // durationMs carries durations only; lay the phases out in the
        // order a micro-batch runs them
        var at = s0
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { ph => val d = dur(p, ph); if (d > 0) { spans += Span(ph, tr, "batch", at, at + d); at += d } }
      }
    }
    (m.toMap, spans.toSeq)
  }

  private def withProgress[T](spark: SparkSession)(f: Progress => T): T = {
    val p = new Progress
    spark.streams.addListener(p)
    try f(p) finally spark.streams.removeListener(p)
  }

  /** Completion allowance after the input ends. */
  private val DrainMs = 120000L

  // ------------------------------------------------------------ workloads

  /** `market_replay`: the generator's output for `1.5 x --seconds` of
    * schedule, written as a backlog before the queries start, then
    * drained through all three; twice, on fresh topics, and the faster
    * round is reported (noise only adds time). A small replay first
    * warms the JVM. The whole backlog commits in T1's first batch, so
    * every op's latency, and with it p50 and p95, is that batch's commit
    * time from query start. Set-up ends where the warm replay starts:
    * its drain and output check vary too much from run to run to be
    * timed as set-up. */
  def replay(spark: SparkSession, a: Args): Outcome = withProgress(spark) { progress =>
    final case class Round(loop: Loop, sched: Schedule, t0: Long, done: Boolean,
                           attempted: Long, failed: Long, checks: Map[String, Any]) {
      val ops: Seq[(String, String)] = sched.allOps
      val lat: Seq[Double] = ops.flatMap(loop.observer.firstCommit).map(_ - t0)
      val last: Double = (lat.map(_ + t0) ++ loop.observer.acceptedInvests.keys.flatMap(id =>
        loop.observer.firstCommit((id, UpdaterType.RETURN)))).maxOption.getOrElse(t0.toDouble)
      val rps: Double = ops.size / ((last - t0) / 1000)
    }
    def round(name: String, seconds: Int, seed: Long): Round = {
      val root = Paths.get(a.work, name)
      Files.createDirectories(root)
      val sched = generate(a, root, seed, seconds)
      val t0 = System.currentTimeMillis()
      val loop = new Loop(spark, new Topics(root), progress)
      val done = loop.await(sched.allOps, DrainMs)
      loop.stop()
      val (attempted, failed, checks) = check(spark, loop, sched.allOps)
      Round(loop, sched, t0, done, attempted, failed, checks)
    }
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val warm = round("replay_warm", 2, a.seed + 1)
    val rounds = Seq(1, 2).map(i => round(s"replay_$i", a.seconds * 3 / 2, a.seed))
    val best = rounds.maxBy(_.rps)
    val all = warm +: rounds
    val (layerM, spans) = layers(best.loop, best.t0)
    Outcome(all.map(_.attempted).sum, all.map(_.failed).sum, setupS,
      e2e = Map("latency_p50_ms" -> Stats.median(best.lat), "latency_p95_ms" -> Stats.pct(best.lat, 0.95),
        "ops_per_s" -> best.rps),
      named = Map("replay_rps" -> best.rps, "drain_s" -> (best.last - best.t0) / 1000),
      layers = layerM + ("gen.rows" -> best.sched.rows.toDouble),
      spans = if (a.trace) spans else Nil,
      extra = best.checks ++ Map("completed" -> all.forall(_.done),
        "phase_failures" -> all.map(_.loop.phaseFailures), "errors" -> all.flatMap(_.loop.errors),
        "round_rps" -> rounds.map(_.rps), "backlog_ops" -> best.ops.size, "backlog_rows" -> best.sched.rows,
        "self_time_ms" -> Stats.selfTimeMs(spans)))
  }
}
