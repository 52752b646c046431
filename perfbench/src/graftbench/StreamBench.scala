package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbench.Trace
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{EventStreams, SketchStream}

/** The `stream_events` workload: in-process events → `EventStreams.dedupStream`
  * → `SketchStream.cmsShardsStream` on the RocksDB state store, one query
  * for the whole run.
  *
  *  - closed loop: drain a fixed staged backlog `ClosedDrains` times, one
  *    micro-batch per staged chunk, as fast as the stream goes. One drain
  *    is a pass.
  *  - open loop: for the run's seconds, offer events at the fixed rate
  *    `OfferedRate` and time each from its due time to the commit of the
  *    micro-batch that emits it.
  *
  * Set-up warms both phases untimed: an open loop of `OpenWarmupSeconds`,
  * then one drain.
  *
  * The seed fixes the events, which of them are re-sent as duplicates, and
  * how the backlog is cut into micro-batches. The answer check: the latest
  * sketch of every shard must equal, byte for byte, the batch twin
  * `SketchStream.cmsShards` over the deduplicated events fed so far.
  */
object StreamBench {
  // state store and shuffle partitions: a micro-batch of a few hundred
  // events is a chain of tiny tasks, and with fewer partitions than cores
  // no stage waits on a core the host has taken away. On a busy shared
  // 4-core host, 2 partitions gave about half the run-to-run spread of 4.
  val Partitions = 2
  val Shards = 8
  val OfferedRate = 500 // events per second in the open loop, about half of the drain rate
  val OpenWarmupSeconds = 4.0
  val BacklogEvents = 4000
  val BacklogChunks = 4
  val ClosedDrains = 3
  val DupShare = 0.1

  type Ev = (Long, java.sql.Timestamp, Long)

  /** Seeded event source: ids ascend with event time, one event-time
    * second apart, so the 2-hour dedup watermark keeps about 7200 ids in
    * state and every drain meets the same state size. A `DupShare` of the
    * rows re-send one of the last 2048 events unchanged (at-least-once
    * delivery, always inside the watermark).
    */
  final class Events(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val recent = mutable.ArrayBuffer.empty[Ev]
    private var nextId = 0L
    val distinct = mutable.ArrayBuffer.empty[Ev]
    def next(): Ev =
      if (recent.nonEmpty && rng.nextDouble() < DupShare) recent(rng.nextInt(recent.size))
      else {
        val e = (nextId, new java.sql.Timestamp(1704067200000L + nextId * 1000),
          rng.nextInt(1000).toLong)
        nextId += 1
        distinct += e
        if (recent.size == 2048) recent(rng.nextInt(2048)) = e else recent += e
        e
      }
    /** Cuts `n` events into `k` chunks of seeded sizes. */
    def chunks(n: Int, k: Int): Seq[Seq[Ev]] = {
      val w = Seq.fill(k)(0.5 + rng.nextDouble())
      val sizes = w.map(x => (x / w.sum * n).toInt)
      sizes.updated(k - 1, n - sizes.init.sum).map(m => Seq.fill(m)(next()))
    }
  }

  def run(r: Run, s: SparkSession, trace: Trace, jvmStartMs: Long): Int = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ev = new Events(r.seed)
    val input = MemoryStream[Ev](Partitions)
    val latest = new ConcurrentHashMap[Int, (Array[Byte], Long)]()
    // batch end offset -> commit time, and every progress, from the listener
    val commits = new ConcurrentHashMap[Long, Long]()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val t = System.nanoTime()
        val p = e.progress
        progress.add(p)
        p.sources.headOption.flatMap(x => Option(x.endOffset))
          .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
          .foreach(o => commits.putIfAbsent(o, t))
      }
    }
    s.streams.addListener(listener)
    val ckpt = s"${r.work}/stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val sketches = SketchStream.cmsShardsStream(
      EventStreams.dedupStream(input.toDF().toDF("event_id", "ts", "user_id")),
      col("user_id"), Shards)
    val q: StreamingQuery = sketches.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { row =>
          val v = (row.getAs[Array[Byte]](1), row.getLong(2))
          latest.merge(row.getInt(0), v, (a, b) => if (b._2 >= a._2) b else a)
        }
      }.start()

    def feed(chunk: Seq[Ev]): Long = input.addData(chunk).toString.trim.toLong
    /** One closed-loop drain of a fresh staged backlog; returns seconds. */
    def drain(n: Int, k: Int): Double = {
      val staged = ev.chunks(n, k)
      val t0 = System.nanoTime()
      staged.foreach { c => feed(c); q.processAllAvailable(); r.attempted += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    def check(what: String): Boolean = {
      q.processAllAvailable()
      val want = SketchStream.cmsShards(ev.distinct.toSeq.toDF("event_id", "ts", "user_id"),
        col("user_id"), Shards).collect()
        .map(x => x.getInt(0) -> (x.getAs[Array[Byte]](1), x.getLong(2))).toMap
      val got = latest.asScala.toMap
      val ok = want.keySet == got.keySet && want.forall { case (k, (b, n)) =>
        got(k)._2 == n && java.util.Arrays.equals(got(k)._1, b)
      }
      r.record(ok, s"$what: streamed shard sketches differ from the batch twin")
      if (!ok) trace.count("check.mismatches", 1)
      ok
    }

    /** What one open loop fed; `latencies` reads the commit times. */
    final class Open(val feeds: Int, val maxLag: Long, val maxBacklog: Long,
                     fed: Seq[(Long, Long, Int)], start: Long, interval: Double) {
      def latencies(): Seq[Double] = {
        val commitAt = commits.asScala.toSeq.sortBy(_._1)
        fed.flatMap { case (off, first, n) =>
          val t = commitAt.find(_._1 >= off).map(_._2)
            .getOrElse(sys.error(s"micro-batch offset $off never committed"))
          (0 until n).map(j => (t - (start + ((first + j) * interval).toLong)) / 1e9)
        }
      }
    }
    /** Offers events at `OfferedRate` for `secs` seconds from this thread,
      * one feed per 5 ms tick holding every event that fell due since the
      * last. Each event is timed from its due time to the commit of the
      * first micro-batch whose end offset covers its feed.
      */
    def openLoop(secs: Double): Open = {
      val interval = 1e9 / OfferedRate
      val start = System.nanoTime() + 50000000L
      val end = start + (secs * 1e9).toLong
      val fed = mutable.ArrayBuffer.empty[(Long, Long, Int)] // offset, first event index, count
      var sent = 0L
      var maxLag = 0L
      var maxBacklog = 0L
      while (System.nanoTime() < end) {
        val now = System.nanoTime()
        val due = if (now < start) 0L else ((now - start) / interval).toLong + 1
        if (due > sent) {
          val n = (due - sent).toInt
          maxLag = math.max(maxLag, now - (start + (sent * interval).toLong))
          fed += ((feed(Seq.fill(n)(ev.next())), sent, n))
          sent += n
        }
        val done = commits.asScala.keys.foldLeft(-1L)(math.max)
        val waiting = fed.iterator.filter(_._1 > done).map(_._3.toLong).sum
        maxBacklog = math.max(maxBacklog, waiting)
        Thread.sleep(5)
      }
      new Open(fed.size, maxLag, maxBacklog, fed.toSeq, start, interval)
    }

    try {
      val tw = System.nanoTime()
      // the open loop first, so that the timed drains follow a drain
      openLoop(OpenWarmupSeconds)
      drain(BacklogEvents, BacklogChunks)
      check("warm-up")
      r.setupCounters("session.warmup_s") = (System.nanoTime() - tw) / 1e9
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val heapMb = r.retainedHeapMb()

      // closed loop: a fixed number of drains; the traced run makes four,
      // in the order untraced, traced, traced, untraced
      val untraced, traced = mutable.ArrayBuffer.empty[Double]
      progress.clear()
      val passes = if (r.traceOn) 4 else ClosedDrains
      for (pass <- 0 until passes) {
        val tracedPass = Bench.tracedPass(r.traceOn, pass)
        trace.activate(tracedPass)
        trace.beginOp("closed_drain")
        val secs = drain(BacklogEvents, BacklogChunks)
        trace.endOp("closed_drain", pass)
        trace.activate(false)
        (if (tracedPass) traced else untraced) += secs
        System.gc()
      }
      val closedOk = check("closed loop")
      val closedProgress = progress.asScala.toSeq
      progress.clear()

      // open loop at the fixed offered rate
      trace.activate(r.traceOn)
      trace.beginOp("open_loop")
      val open = openLoop(r.seconds)
      q.processAllAvailable()
      val openOk = check("open loop")
      val openProgress = progress.asScala.toSeq
      val lat = open.latencies()
      r.attempted += open.feeds

      val ps = openProgress ++ closedProgress
      trace.count("streaming.batches", ps.size)
      trace.count("streaming.batch_s", ps.map(_.durationMs.asScala.get("triggerExecution").fold(0L)(_.longValue)).sum / 1e3)
      ps.lastOption.foreach { p =>
        trace.count("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
        trace.count("streaming.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      }
      trace.count("streaming.state_commit_s", ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3)
      trace.count("streaming.backlog_rows", open.maxBacklog)
      trace.count("streaming.generator_lag_s", open.maxLag / 1e9)
      val openCounters = trace.endOp("open_loop", passes)
      trace.activate(false)

      val passS = Bench.median(untraced.toSeq)
      val metrics =
        if (!r.traceOn) Seq(
          ("setup_s", setupS, "s"),
          ("pass_s", if (closedOk) passS else Double.NaN, "s"),
          // one op kind, the event, so the geometric mean of per-kind
          // medians is the median event latency
          ("op_geomean_s", if (openOk) Bench.quantile(lat, 0.5) else Double.NaN, "s"),
          ("rows_per_s", if (closedOk) BacklogEvents / passS else Double.NaN, "rows/s"),
          ("heap_retained_mb", heapMb, "MB"))
        else Layers.report(r, Seq(openCounters),
          "trace.overhead_frac" -> (Bench.median(traced.toSeq) / passS - 1))
      r.facts("offered_rate_events_per_s") = OfferedRate
      r.facts("backlog_events") = BacklogEvents
      r.facts("shuffle_partitions") = Partitions
      r.finish(metrics, Map("passes" -> passes, "op_n" -> lat.size,
        "stream_rows_per_s" -> BacklogEvents / passS,
        "emit_p50_s" -> (if (lat.isEmpty) Double.NaN else Bench.quantile(lat, 0.5)),
        "emit_p90_s" -> (if (lat.isEmpty) Double.NaN else Bench.quantile(lat, 0.9)),
        "pass_samples_s" -> untraced, "traced_pass_samples_s" -> traced,
        "open_batch_samples_s" -> openProgress.map(_.durationMs.asScala.get("triggerExecution").fold(0L)(_.longValue) / 1e3)),
        if (r.traceOn) Some(trace) else None)
    } finally {
      q.stop()
      s.streams.removeListener(listener)
    }
  }
}
