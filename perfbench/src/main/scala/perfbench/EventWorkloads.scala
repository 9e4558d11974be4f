package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.projections.{LogEvent, Projections}
import graft.projections.js.JsProjection
import graft.sources.{EventLogStore, PendingEvent}
import graft.streaming.Subscriptions

/** Per-stream fold state of the benchmark's Scala projection: event
  * count, sum of `value` in integer cents and the highest log position
  * folded (which tells when a state row covers a given event). */
final case class Acc(n: Long, cents: Long, lastPos: Long)

object Fold {
  /** `value` of a payload `{"k": .., "value": v}`, in integer cents. */
  def cents(data: String): Long = {
    val i = if (data == null) -1 else data.indexOf("\"value\": ")
    if (i < 0) 0L
    else {
      val from = i + 9
      var end = from
      while (end < data.length && "0123456789.-".indexOf(data.charAt(end)) >= 0) end += 1
      math.round(data.substring(from, end).toDouble * 100)
    }
  }
  val init: () => Acc = () => Acc(0L, 0L, -1L)
  val step: (Acc, LogEvent) => Acc = (s, e) =>
    Acc(s.n + 1, s.cents + cents(e.data), math.max(s.lastPos, e.log_position))

  /** The same fold as a compiled JS projection definition. */
  val jsSource: String = """
fromAll()
    .foreachStream()
    .when({
        $init: function() { return { n: 0, cents: 0 } },
        $any: function(s, e) {
            s.n += 1;
            s.cents += Math.round(e.body.value * 100);
            return s;
        }
    })"""
}

/** How far one streaming query's sink has got (the highest position it
  * has seen, or the number of events it has folded minus one), and when
  * each micro-batch was seen. */
final class Level {
  private val marks = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile var level = -1L
  def add(l: Long, t: Double): Unit = synchronized {
    level = math.max(level, l)
    marks.add(level -> t)
  }
  def reachedAt(target: Long): Option[Double] = marks.asScala.find(_._1 >= target).map(_._2)
}

/** The bulk-loaded log as the client knows it: each stream's event ids
  * in log order, the events' timestamps (epoch micros) in log order, and
  * the pool of payloads appends draw from. */
final class Corpus(val streams: Map[String, Vector[String]], val timestamps: Vector[Long],
    val payloads: Vector[String])

object EventWorkloads {
  val BatchEvents = 10
  /** Bulk loads the seeded log is set up in. */
  val SetupSlices = 3
  /** Closed-loop appends per client (traced runs). */
  val AppendsPerClient = 2
  /** Untimed, then timed, appends of the live phase. */
  val LiveWarmAppends = 2
  val LiveAppends = 7
  /** Point reads (traced runs). */
  val Reads = 4
  val EventTypes = Vector("click", "error", "purchase", "signup", "view")

  /** Generated `events.parquet` as pending events: stream `<type>-<user>`,
    * payload = the row's `props` with its `value` added. */
  def pending(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.data}/events.parquet").select(
      concat(col("event_type"), lit("-"), col("user_id")).as("stream_id"),
      concat(lit("b"), col("event_id")).as("event_id"),
      col("event_type"),
      concat(expr("substring(props, 1, length(props) - 1)"), lit(", \"value\": "),
        col("value").cast("string"), lit("}")).as("data"),
      lit(null).cast("string").as("metadata"),
      get_json_object(col("props"), "$.k").as("correlation_id"),
      col("ts").cast("timestamp").as("timestamp"))

  /** Client-side ledger of the bulk load: appendBulk assigns positions in
    * (timestamp, event_id) order, so the same sort gives stream order. */
  def corpus(pend: DataFrame): Corpus = {
    val rows = pend.select(col("stream_id"), col("event_id"),
      unix_micros(col("timestamp")), col("data")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._3, r._2))
    val streams = rows.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).toVector }
    new Corpus(streams, rows.map(_._3).toVector, rows.map(_._4).toVector)
  }

  /** Bulk-load the seeded log into a fresh store in `SetupSlices`
    * `appendBulk` calls, each over the next slice of its timestamps, so
    * positions follow (timestamp, event_id) as in one load. The first
    * load is cold (class loading, code generation, JIT); `setup_s` is the
    * median of the warm ones. */
  def setup(ctx: Ctx, res: Result): (EventLogStore, Corpus) = {
    val pend = pending(ctx)
    val c = corpus(pend)
    val store = new EventLogStore(ctx.spark, storeDir(ctx))
    val cuts = Long.MinValue +: (1 until SetupSlices).map(k =>
      c.timestamps(k * c.timestamps.size / SetupSlices)) :+ Long.MaxValue
    val ms = cuts.sliding(2).map { case Seq(lo, hi) =>
      val ts = unix_micros(col("timestamp"))
      Stats.timeMs(ctx.trace.call("sources", "appendBulk")(
        store.appendBulk(pend.where(ts >= lo && ts < hi))))._2
    }.toVector
    res.e2e("setup_s") = Stats.median(ms.tail) / 1000
    res.info("setup_cold_s") = ms.head / 1000
    res.layers("sources.append_bulk_ms") = Stats.median(ms.tail)
    res.mark("setup")
    (store, c)
  }

  def events(stream: String, idPrefix: String, rng: scala.util.Random, c: Corpus,
      meta: String): Seq[PendingEvent] =
    (0 until BatchEvents).map { k =>
      PendingEvent(stream, s"$idPrefix-$k", EventTypes(rng.nextInt(EventTypes.size)),
        c.payloads(rng.nextInt(c.payloads.size)), meta, s"$idPrefix")
    }

  def storeDir(ctx: Ctx): String = ctx.path("store0")

  /** (files, bytes) under the store's log and stats directories. */
  def diskUsage(dir: String): (Int, Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    def data(d: String) = walk(new File(s"$dir/$d")).filter(_.getName.endsWith(".parquet"))
    val all = walk(new File(dir))
    (data("log").size, data("stats").size, all.map(_.length).sum)
  }

  def retentionBounds(ctx: Ctx, store: EventLogStore, res: Result): Unit = {
    val ms = (1 to 3).map(_ => Stats.timeMs(
      ctx.trace.call("sources", "retentionBounds")(store.retentionBounds().collect()))._2)
    res.layers("sources.retention_bounds_ms") = Stats.median(ms)
  }

  /** Spark work of one traced layer call. `waitMs` runs from the call's
    * entry to its first job; `driverMs` is the call's time outside jobs. */
  final case class CallStats(jobs: Double, tasks: Double, jobMs: Double, driverMs: Double,
      waitMs: Double, inputRecords: Double)

  def perCall(ctx: Ctx, spans: Seq[Span]): Seq[CallStats] =
    ctx.meter.toSeq.flatMap { m =>
      spans.map { s =>
        val js = m.jobsOfGroup(ctx.trace.group(s.id))
        val t = m.totals(js)
        val wait = if (js.isEmpty) s.ms else js.map(_.start).min - s.start
        CallStats(js.size, t.tasks, t.busyMs, s.ms - t.busyMs, math.max(0.0, wait),
          t.inputRecords)
      }
    }

  /** The layers a workload bypasses report 0, so every run prints the
    * same per-layer set. */
  val LayerDefaults: Seq[String] = Seq(
    "sources.append.jobs_per_call", "sources.append.tasks_per_call",
    "sources.append.job_ms_per_call", "sources.append.driver_ms_per_call",
    "sources.append.wait_ms", "sources.append.files_per_call",
    "sources.append.p50_ms", "sources.append.p90_ms", "sources.append.events_per_s",
    "sources.disk_bytes_per_user_byte", "sources.log_files", "sources.stats_files",
    "sources.disk_bytes", "sources.read_stream.ms_per_call",
    "sources.read_stream.p90_ms", "sources.read_stream.jobs_per_call",
    "sources.read_stream.rows_examined_per_row", "sources.append_bulk_ms",
    "sources.retention_bounds_ms",
    "streaming.batches", "streaming.trigger_ms", "streaming.latest_offset_ms",
    "streaming.get_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.idle_share", "streaming.backlog_positions", "streaming.add_batch_ms",
    "streaming.rows_per_batch", "streaming.catchup_ms",
    "projections.state_rows", "projections.state_bytes", "projections.state_commit_ms",
    "projections.lag_p50_ms", "projections.lag_p90_ms",
    "projections.js.compile_ms", "projections.js.compiled",
    "spark.jobs", "spark.tasks", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes") ++
    Seq("sources", "operators", "streaming", "projections", "projections.js",
      "analytics", "spark").map(l => s"$l.self_ms")

  // ------------------------------------------------------------- events

  type Ledger = java.util.concurrent.ConcurrentHashMap[String, Vector[String]]

  /** `events`: the event-store path over one bulk-loaded store: live
    * delivery to a subscription and a projection while a writer appends,
    * then catch-up of a subscription and two projections. Traced runs add
    * the phases that only per-layer metrics come from: closed-loop appends
    * before the live phase, and seeded point reads at the end. Every
    * acknowledged event is then checked. */
  def events(ctx: Ctx): Result = {
    val res = new Result
    val (store, c) = setup(ctx, res)
    val ledger: Ledger = new java.util.concurrent.ConcurrentHashMap(c.streams.asJava)
    val refused = new ConcurrentLinkedQueue[String]()

    val t0 = ctx.trace.nowMs
    if (ctx.trace.enabled) {
      // untimed warm-up append into a stream of its own
      val warm = events("warm-0", "warm0", new scala.util.Random(ctx.seed), c, null)
      store.append(warm, Map("warm-0" -> -1L))
      ledger.put("warm-0", warm.map(_.event_id).toVector)
      retentionBounds(ctx, store, res)
      appendPhase(ctx, store, c, ledger, refused, res)
    }
    streamPhases(ctx, store, c, ledger, res)
    if (ctx.trace.enabled) readPhase(ctx, store, c, ledger, res)
    val t1 = ctx.trace.nowMs

    // every acknowledged event reads back with its stream and number,
    // log positions are unique and gap-free, refused events are absent
    val written = store.read().select("stream_id", "event_number", "event_id").collect()
      .groupBy(_.getString(0)).map { case (s, rs) =>
        s -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(1), r.getString(2))).toVector }
    val wrong = ledger.asScala.count { case (s, ids) =>
      written.getOrElse(s, Vector.empty) != ids.zipWithIndex.map { case (id, n) => (n.toLong, id) } }
    res.check(wrong == 0 && written.size == ledger.size,
      s"$wrong of ${ledger.size} streams do not read back as acknowledged")
    val positions = store.read().select("log_position").collect().map(_.getLong(0)).sorted
    res.check(positions.sameElements(0L until positions.length.toLong),
      "log positions are not unique and gap-free")
    val refusedIds = refused.asScala.toSeq
    if (refusedIds.nonEmpty)
      res.check(store.read().where(col("event_id").isin(refusedIds: _*)).count() == 0,
        "a refused event is present in the log")
    res.mark("checks")

    val (lf, sf, db) = diskUsage(storeDir(ctx))
    res.layers("sources.log_files") = lf
    res.layers("sources.stats_files") = sf
    res.layers("sources.disk_bytes") = db.toDouble
    ctx.meter.foreach { m =>
      m.drain()
      m.sparkMetrics(m.jobsBetween(t0.toLong, t1.toLong + 1)).foreach { case (k, v) =>
        res.layers(k) = v }
    }
    finish(res)
  }

  /** Closed loop: one client per core appends 10-event batches with exact
    * expected versions to three streams of its own. */
  private def appendPhase(ctx: Ctx, store: EventLogStore, c: Corpus, ledger: Ledger,
      refused: ConcurrentLinkedQueue[String], res: Result): Unit = {
    val (files0, stats0, bytes0) = diskUsage(storeDir(ctx))
    final case class Op(start: Double, end: Double, ok: Boolean, userBytes: Long,
        span: Option[Span])
    val ops = new ConcurrentLinkedQueue[Op]()
    val skipped = new java.util.concurrent.atomic.AtomicInteger()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    def send(cl: Int, i: Int, rng: scala.util.Random): Unit = {
      val stream = s"client$cl-s${i % 3}"
      val evs = events(stream, s"a${ctx.seed}-c$cl-i$i", rng, c,
        s"""{"client":$cl,"seq":$i}""")
      val prior = Option(ledger.get(stream)).getOrElse(Vector.empty)
      val start = ctx.trace.nowMs
      val (ok, span) = try {
        val (_, sp) = ctx.trace.callSpan("sources", "append")(_ =>
          store.append(evs, Map(stream -> (prior.size - 1L))))
        ledger.put(stream, prior ++ evs.map(_.event_id))
        (true, sp)
      } catch { case _: Exception =>
        evs.foreach(e => refused.add(e.event_id))
        (false, None)
      }
      val bytes = evs.map(e => e.data.length + e.metadata.length).sum.toLong
      ops.add(Op(start, ctx.trace.nowMs, ok, bytes, span))
    }
    val threads = (0 until ctx.cores).map { cl =>
      new Thread(() => {
        val rng = new scala.util.Random(ctx.seed * 7919 + cl)
        (0 until AppendsPerClient).foreach { i =>
          if (System.nanoTime() >= deadline) skipped.incrementAndGet() else send(cl, i, rng)
        }
      }, s"client-$cl")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val opsSeq = ops.asScala.toVector
    val acked = opsSeq.filter(_.ok)
    val wall = opsSeq.map(_.end).max - opsSeq.map(_.start).min
    val (files1, stats1, bytes1) = diskUsage(storeDir(ctx))
    res.attempted += opsSeq.size + skipped.get
    opsSeq.filterNot(_.ok).foreach(_ => res.fail("append refused"))
    (0 until skipped.get).foreach(_ => res.fail("append not sent within --seconds"))
    val lat = acked.map(o => o.end - o.start)
    res.layers("sources.append.events_per_s") = acked.size * BatchEvents / (wall / 1000)
    res.layers("sources.append.p50_ms") = Stats.median(lat)
    res.layers("sources.append.p90_ms") = Stats.pct(lat, 0.9)
    res.layers("sources.append.files_per_call") =
      (files1 + stats1 - files0 - stats0).toDouble / math.max(1, acked.size)
    res.layers("sources.disk_bytes_per_user_byte") =
      (bytes1 - bytes0).toDouble / math.max(1L, acked.map(_.userBytes).sum)
    res.info("appends") = opsSeq.size
    res.info("clients") = ctx.cores
    res.mark("appends")
    ctx.meter.foreach { m =>
      m.drain()
      val pc = perCall(ctx, acked.flatMap(_.span))
      def avg(f: CallStats => Double) = Stats.mean(pc.map(f))
      res.layers("sources.append.jobs_per_call") = avg(_.jobs)
      res.layers("sources.append.tasks_per_call") = avg(_.tasks)
      res.layers("sources.append.job_ms_per_call") = avg(_.jobMs)
      res.layers("sources.append.driver_ms_per_call") = avg(_.driverMs)
      res.layers("sources.append.wait_ms") = avg(_.waitMs)
    }
  }

  /** Seeded point reads, half of them of streams the clients wrote. */
  private def readPhase(ctx: Ctx, store: EventLogStore, c: Corpus, ledger: Ledger,
      res: Result): Unit = {
    val rng = new scala.util.Random(ctx.seed * 31 + 1)
    val clientStreams = ledger.keySet.asScala.toVector.filter(_.startsWith("client")).sorted
    val bulkStreams = c.streams.keys.toVector.sorted
    store.readStreamEvents(bulkStreams.head).collect()  // untimed warm-up
    val readOps = (0 until Reads).map { i =>
      val s = if (i % 2 == 0 && clientStreams.nonEmpty)
        clientStreams(rng.nextInt(clientStreams.size))
      else bulkStreams(rng.nextInt(bulkStreams.size))
      val want = ledger.get(s)
      val start = ctx.trace.nowMs
      val (rows, span) = ctx.trace.callSpan("sources", "readStreamEvents")(_ =>
        store.readStreamEvents(s).select("event_number", "event_id").collect())
      val got = rows.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
      res.check(got == want.zipWithIndex.map { case (id, n) => (n.toLong, id) },
        s"point read of $s returned ${got.size} events, ledger has ${want.size}")
      (ctx.trace.nowMs - start, span, rows.length)
    }
    val readMs = readOps.map(_._1)
    res.layers("sources.read_stream.ms_per_call") = Stats.median(readMs)
    res.layers("sources.read_stream.p90_ms") = Stats.pct(readMs, 0.9)
    res.mark("reads")
    ctx.meter.foreach { m =>
      m.drain()
      val rc = perCall(ctx, readOps.flatMap(_._2))
      res.layers("sources.read_stream.jobs_per_call") = Stats.mean(rc.map(_.jobs))
      res.layers("sources.read_stream.rows_examined_per_row") =
        rc.map(_.inputRecords).sum / math.max(1, readOps.map(_._3).sum)
    }
  }

  /** A streaming query whose foreachBatch hands each collected batch,
    * stamped with the time it was seen, to `sink`. */
  private def startQuery(ctx: Ctx, name: String, df: DataFrame, mode: String)(
      sink: (Array[Row], Double) => Unit): (StreamingQuery, () => Unit) = {
    val f: (Dataset[Row], Long) => Unit = (b, _) => {
      val rows = b.collect()
      sink(rows, ctx.trace.nowMs)
    }
    val q = df.writeStream.queryName(name).outputMode(mode)
      .option("checkpointLocation", ctx.path(s"checkpoints/$name"))
      .foreachBatch(f).start()
    (q, ctx.trace.streamQuery(name, q.id.toString))
  }

  private def await(timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!done && System.nanoTime() < end) Thread.sleep(5)
    done
  }

  /** Live, then catch-up. A retained `$all` subscription and a Scala fold
    * projection start from position -1 and catch up with the log head,
    * untimed; then one writer appends while both run live. The writer
    * waits for each append to be seen by both before it sends the next, so
    * a sample never includes time queued behind an earlier append, however
    * slow the machine is. Its first appends go to streams of their own and
    * are not timed: they pay the first incremental micro-batches' one-time
    * costs. Last comes the timed catch-up: a compiled JS projection, a
    * second subscription and a second Scala projection start from -1, one
    * after another, each with the machine to itself. They run last so that
    * the JIT is warm; timed first, they varied by 20% from run to run. */
  private def streamPhases(ctx: Ctx, store: EventLogStore, c: Corpus, ledger: Ledger,
      res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val head0 = ledger.values.asScala.map(_.size.toLong).sum - 1
    val (js, compileMs) = Stats.timeMs(
      ctx.trace.call("projections.js", "compile")(JsProjection.compile(Fold.jsSource)))
    res.layers("projections.js.compile_ms") = compileMs
    res.layers("projections.js.compiled") = if (js.compilesToColumns) 1.0 else 0.0

    // the three kinds of query; each sink records what it saw and when
    def subscription(name: String, seen: ConcurrentLinkedQueue[(Long, Double)], lv: Level) =
      ctx.trace.call("streaming", "subscribeAllRetained") {
        startQuery(ctx, name, store.subscribeAllRetained().select("log_position"),
          "append") { (rows, t) =>
          val ps = rows.map(_.getLong(0))
          ps.foreach(p => seen.add(p -> t))
          lv.add(ps.maxOption.getOrElse(-1L), t)
        }
      }
    def projection(name: String, out: ConcurrentLinkedQueue[(String, Acc, Double)],
        lv: Level) =
      ctx.trace.call("projections", "projectionStream") {
        val states = Subscriptions.projectionStream[Acc](store.subscribeAllRetained(),
          e => Some(e.stream_id), Fold.init, Fold.step)
        startQuery(ctx, name, states.toDF("key", "state"), "update") { (rows, t) =>
          val accs = rows.map { r =>
            val s = r.getStruct(1)
            r.getString(0) -> Acc(s.getLong(0), s.getLong(1), s.getLong(2))
          }
          accs.foreach { case (k, a) => out.add((k, a, t)) }
          lv.add(accs.map(_._2.lastPos).maxOption.getOrElse(-1L), t)
        }
      }
    val nOf = "\"n\":(\\d+)".r
    def jsN(s: String) = nOf.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    def jsProjection(name: String, latest: java.util.Map[String, String], lv: Level) =
      ctx.trace.call("projections.js", "statesStream") {
        val folded = new java.util.concurrent.atomic.AtomicLong()
        startQuery(ctx, name, js.statesStream(store.subscribeAllRetained()).toDF(),
          "update") { (rows, t) =>
          rows.foreach { r =>
            val prev = Option(latest.put(r.getString(0), r.getString(1)))
            folded.addAndGet(jsN(r.getString(1)) - prev.map(jsN).getOrElse(0L))
          }
          lv.add(folded.get - 1, t)  // events folded, as the position reached
        }
      }
    def deliveredOnce(seen: ConcurrentLinkedQueue[(Long, Double)], head: Long): Boolean = {
      val counts = seen.asScala.toVector.groupBy(_._1).map { case (p, v) => p -> v.size }
      counts.size == head + 1 && counts.forall(_._2 == 1) &&
        counts.keys.forall(p => p >= 0 && p <= head)
    }
    def finalStates(out: ConcurrentLinkedQueue[(String, Acc, Double)]): Map[String, Acc] =
      out.asScala.toVector.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2.lastPos)._2 }

    // the live queries catch up first, untimed
    val seen = new ConcurrentLinkedQueue[(Long, Double)]()
    val projRows = new ConcurrentLinkedQueue[(String, Acc, Double)]()
    val (subLv, projLv) = (new Level, new Level)
    val (subQ, subEnd) = subscription("subscription", seen, subLv)
    val (projQ, projEnd) = projection("projection", projRows, projLv)
    res.check(await(90000)(subLv.level >= head0 && projLv.level >= head0),
      "the live queries did not catch up with the log head")
    res.mark("live_catchup")

    // live: append, wait until the subscription and the projection have
    // seen it, repeat; warm-up appends first, into streams of their own
    val liveRng = new scala.util.Random(ctx.seed * 131 + 7)
    val warmTargets = (0 until LiveWarmAppends).map(i => s"warm-live-$i")
    val targets = warmTargets ++ liveRng.shuffle(c.streams.keys.toVector.sorted).take(LiveAppends)
    val batches = targets.zipWithIndex.map { case (s, i) =>
      (s, events(s, s"l${ctx.seed}-$i", liveRng, c, null),
        Option(ledger.get(s)).map(_.size - 1L).getOrElse(-1L))
    }
    final case class Sent(i: Int, due: Double, end: Double, ok: Boolean)
    val sent = mutable.ArrayBuffer.empty[Sent]
    val tLive = ctx.trace.nowMs
    val deadline = tLive + ctx.seconds * 1000.0
    var head = head0
    var tTimed = tLive
    batches.indices.foreach { i =>
      if (i == LiveWarmAppends) tTimed = ctx.trace.nowMs
      val (s, evs, expected) = batches(i)
      if (ctx.trace.nowMs >= deadline) res.fail(s"live append $i not sent within --seconds")
      else {
        val due = ctx.trace.nowMs
        val ok = try {
          ctx.trace.call("sources", "append")(store.append(evs, Map(s -> expected)))
          ledger.put(s, Option(ledger.get(s)).getOrElse(Vector.empty) ++ evs.map(_.event_id))
          true
        } catch { case _: Exception => false }
        sent += Sent(i, due, ctx.trace.nowMs, ok)
        if (ok) {
          head += BatchEvents
          val h = head
          await(30000)(subLv.level >= h && projLv.level >= h)
        } else res.fail(s"live append $i refused")
      }
    }
    res.attempted += batches.size
    val okSent = sent.filter(_.ok).toVector
    val head1 = head0 + okSent.size * BatchEvents
    await(30000)(subLv.level >= head1 && projLv.level >= head1)
    val tEnd = ctx.trace.nowMs
    res.mark("live")
    subQ.stop(); subEnd()
    projQ.stop(); projEnd()

    // delivery (due -> seen by the subscription) and projection lag (due
    // -> first state row of the stream that covers the event), over the
    // timed appends
    val liveIds = okSent.flatMap(s => batches(s.i)._2.map(_.event_id -> s))
    val posOf = store.read().where(col("event_id").isin(liveIds.map(_._1): _*))
      .select("event_id", "log_position").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seenSeq = seen.asScala.toVector
    val seenAt = seenSeq.groupBy(_._1).map { case (p, ts) => p -> ts.map(_._2).min }
    val projByKey = projRows.asScala.toVector.groupBy(_._1)
    val delivery = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    liveIds.filter(_._2.i >= LiveWarmAppends).foreach { case (id, s) =>
      posOf.get(id).foreach { p =>
        seenAt.get(p).foreach(t => delivery += t - s.due)
        projByKey.getOrElse(batches(s.i)._1, Vector.empty).filter(_._2.lastPos >= p)
          .map(_._3).minOption.foreach(t => lag += t - s.due)
      }
    }
    res.e2e("latency_p50_ms") = Stats.median(delivery.toSeq)
    // with one independent sample per append, a p90 is close to the
    // slowest append of the run: recorded, but not a metric
    res.info("latency_p90_ms") = Stats.pct(delivery.toSeq, 0.9)
    res.layers("projections.lag_p50_ms") = Stats.median(lag.toSeq)
    res.layers("projections.lag_p90_ms") = Stats.pct(lag.toSeq, 0.9)
    res.info("delivery_ms") = okSent.map(s => posOf.get(batches(s.i)._2.head.event_id)
      .flatMap(seenAt.get).map(_ - s.due).getOrElse(-1.0))

    // checks: every event delivered exactly once; the live projection's
    // final states equal the batch fold over the whole log. The log is
    // final now, so the JS batch states the catch-up is checked against
    // are computed here too, which also warms the JS path before it is
    // timed.
    val batchStates = Projections.fromAll().foreachStream().init(Fold.init())
      .whenAny(Fold.step).states(store.read()).collect().toMap
    val jsBatch = js.states(store.read()).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    res.check(deliveredOnce(seen, head1),
      s"subscription delivered ${seenSeq.size} rows for ${head1 + 1} events")
    res.check(liveIds.forall { case (id, _) => posOf.get(id).exists(seenAt.contains) },
      "a live event was never delivered")
    res.check(finalStates(projRows) == batchStates, "live projection states differ from batch states")
    res.mark("live_checks")

    // timed catch-up. A query's catch-up time runs from the start of its
    // first micro-batch with data (query start-up excluded) to the batch
    // that reaches the head.
    def catchUp(start: Level => (StreamingQuery, () => Unit)): Option[Double] = {
      val lv = new Level
      val (q, end) = start(lv)
      // the batch's progress report is posted after its sink returns
      res.check(await(90000)(lv.level >= head1 && q.recentProgress.exists(_.numInputRows > 0)),
        s"${q.name} did not catch up with the log head")
      val first = q.recentProgress.find(_.numInputRows > 0)
        .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      q.stop(); end()
      for (f <- first; t <- lv.reachedAt(head1)) yield t - f
    }
    val jsLatest = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val seen2 = new ConcurrentLinkedQueue[(Long, Double)]()
    val projRows2 = new ConcurrentLinkedQueue[(String, Acc, Double)]()
    val catchupMs = Seq(
      catchUp(subscription("catchup_subscription", seen2, _)),
      catchUp(projection("catchup_projection", projRows2, _)),
      catchUp(jsProjection("catchup_js", jsLatest, _)))
    res.e2e("throughput_per_s") = (head1 + 1) / (Stats.mean(catchupMs.flatten) / 1000)
    res.layers("streaming.catchup_ms") = Stats.mean(catchupMs.flatten)
    res.info("catchup_ms") = catchupMs
    res.mark("catchup")
    res.check(deliveredOnce(seen2, head1), "catch-up subscription missed or repeated events")
    res.check(finalStates(projRows2) == batchStates,
      "catch-up projection states differ from batch states")
    res.check(jsBatch == jsLatest.asScala.toMap,
      s"JS streaming states differ from batch states (${jsBatch.size} vs ${jsLatest.size} keys)")
    res.mark("catchup_checks")

    ctx.meter.foreach { m =>
      m.drain()
      val progs = m.progresses
      def q(name: String) = progs.filter(_.name == name)
      val liveSub = q("subscription").filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli >= tTimed && p.numInputRows > 0)
      def dur(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], k: String) =
        Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      res.layers("streaming.batches") = liveSub.size
      res.layers("streaming.trigger_ms") = dur(liveSub, "triggerExecution")
      res.layers("streaming.latest_offset_ms") = dur(liveSub, "latestOffset")
      res.layers("streaming.get_batch_ms") = dur(liveSub, "getBatch")
      res.layers("streaming.query_planning_ms") = dur(liveSub, "queryPlanning")
      res.layers("streaming.wal_commit_ms") = dur(liveSub, "walCommit")
      val busy = q("subscription").filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli >= tTimed)
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum
      res.layers("streaming.idle_share") = math.max(0.0, 1 - busy / (tEnd - tTimed))
      // events acknowledged but not yet delivered, averaged over the timed
      // live appends (sampled every 10 ms)
      val timedSent = okSent.filter(_.i >= LiveWarmAppends)
      val liveSeen = seenSeq.filter(_._1 > head0 + LiveWarmAppends * BatchEvents).map(_._2)
      val backlog = Iterator.iterate(tTimed)(_ + 10).takeWhile(_ < tEnd).map { t =>
        (timedSent.count(_.end <= t) * BatchEvents - liveSeen.count(_ <= t)).toDouble }.toSeq
      res.layers("streaming.backlog_positions") = Stats.mean(backlog)
      val catchupProj = q("catchup_projection").filter(_.numInputRows > 0)
      res.layers("streaming.add_batch_ms") = catchupProj.headOption
        .flatMap(p => Option(p.durationMs.get("addBatch"))).map(_.doubleValue).getOrElse(0.0)
      res.layers("streaming.rows_per_batch") = Stats.mean(catchupProj.map(_.numInputRows.toDouble))
      val proj = q("projection").filter(_.numInputRows > 0)
      proj.lastOption.flatMap(_.stateOperators.headOption).foreach { so =>
        res.layers("projections.state_rows") = so.numRowsTotal.toDouble
        res.layers("projections.state_bytes") = so.memoryUsedBytes.toDouble
      }
      res.layers("projections.state_commit_ms") = Stats.median(
        proj.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
    }
  }

  /** Fill in bypassed layers with 0. */
  def finish(res: Result): Result = {
    (LayerDefaults ++ QueryWorkload.LayerNames).foreach(k =>
      if (!res.layers.contains(k)) res.layers(k) = 0.0)
    res
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
