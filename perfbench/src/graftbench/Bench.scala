package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.Trace

import graft.SparkEntry

/** What one op call produced: its wall time, or the reason it has none. */
final case class OpResult(seconds: Double, ok: Boolean, mismatches: Seq[String],
                          error: Option[String])

/** Run-wide bookkeeping shared by the batch and stream workloads. */
final class Run(val a: Main.Args) {
  val workload: String = a("workload")
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val traceOn: Boolean = a("trace") == "1"
  val work: String = a("work")
  val data: String = a("data")
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val setupCounters = mutable.LinkedHashMap.empty[String, Double]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  def record(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** Old-generation MB in use after a full collection. Taken once, when
    * set-up (the answer-checked warm pass) is done: a fixed amount of work,
    * so the figure does not drift with how many passes a run fits in.
    */
  def retainedHeapMb(): Double = {
    // the first collection clears weak references; Spark's context cleaner
    // then drops the shuffle and broadcast state behind them, and the
    // second collection measures what is really still held
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Host and input facts recorded in the artifact. */
  def hostFacts(s: SparkSession): Unit = {
    facts("cores") = Runtime.getRuntime.availableProcessors()
    facts("spark_version") = s.version
    facts("java_version") = System.getProperty("java.version")
    facts("master") = s.sparkContext.master
    facts("seed") = seed
    facts("seconds") = seconds
    facts("tables") = Gen.readRows(data).map { case (t, rows) =>
      val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$data/$t.parquet"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      t -> Map("rows" -> rows, "bytes" -> bytes)
    }
  }

  def tableRows: Map[String, Long] =
    facts("tables").asInstanceOf[Map[String, Map[String, Long]]]
      .map { case (t, m) => t -> m("rows") }

  /** Prints the result line and writes the artifact; returns the exit code. */
  def finish(metrics: Seq[(String, Double, String)], extra: Map[String, Any],
             trace: Option[Trace]): Int = {
    val res = new java.io.File(a("results"))
    res.mkdirs()
    val tag = s"$workload-seed$seed-trace${if (traceOn) 1 else 0}"
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val artifact = Map(
      "workload" -> workload, "host" -> facts, "attempted" -> attempted,
      "failed" -> failed, "error_rate" -> errorRate, "failures" -> failures,
      "setup" -> setupCounters,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    ) ++ extra
    write(s"$res/$tag.json", Json(artifact))
    trace.foreach { t =>
      write(s"$res/$tag-spans.json", Json(Map(
        "spans" -> t.spans.map(sp => Map("op" -> sp.op, "name" -> sp.name,
          "parent" -> sp.parent, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs)),
        "ops" -> t.ops.map { case (id, name, pass, c) =>
          Map("op" -> id, "name" -> name, "pass" -> pass, "counters" -> c) })))
    }
    println(f"workload $workload seed $seed trace ${if (traceOn) 1 else 0}: " +
      f"attempted $attempted failed $failed error_rate $errorRate%.4f ratio")
    metrics.foreach { case (n, v, u) => println(f"  $n%-32s $v%14.6f $u") }
    failures.take(20).foreach(f => println(s"  FAILED $f"))
    val correct = failed == 0 && attempted > 0
    println(Json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    0
  }

  private def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

object Bench {

  /** Passes 1 and 2 of every four are traced in a traced run. */
  def tracedPass(traceOn: Boolean, pass: Int): Boolean =
    traceOn && (pass % 4 == 1 || pass % 4 == 2)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the NumPy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Geometric mean over op kinds of each kind's median time. A run holds
    * only one or two samples of each of a few ops whose times differ
    * several-fold, so a pooled median falls in the gap between two ops
    * and jumps with their order; this summary moves with every op.
    */
  def opGeomean(samples: Seq[(String, Double)]): Double = {
    val meds = samples.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Drops every cached or checkpointed frame, so an op never inherits
    * the previous op's persisted data (c13 and the curation gate persist).
    */
  def cleanup(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Calls `op` once: build, execute, check. A wrong answer or an error
    * gives the op no time.
    */
  def runOp(c: Ctx, op: Op, expected: Map[String, Fingerprint],
            pass: Int): (OpResult, Map[String, Double], Option[DataFrame]) = {
    cleanup(c.spark)
    val t = c.trace
    t.beginOp(op.name)
    val t0 = System.nanoTime()
    var built: Option[DataFrame] = None
    val res = try {
      t.phase("build")
      val df = t.timed("registry.build_s")(op.build(c))
      built = Some(df)
      t.phase("execute")
      val answers = t.timed("execute_s")(op.execute(c, df))
      val secs = (System.nanoTime() - t0) / 1e9
      t.phase(null)
      val bad = t.timed("check_s") {
        answers.flatMap { ans =>
          val got = Fingerprint.of(ans.schema, ans.rows)
          expected.get(ans.key) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"${ans.key}: got $got want $want")
            case None => Some(s"${ans.key}: no committed fingerprint (got $got)")
          }
        }
      }
      t.count("check.mismatches", bad.size)
      OpResult(secs, bad.isEmpty, bad, None)
    } catch {
      case e: Throwable =>
        t.phase(null)
        t.count("check.errors", 1)
        OpResult(0.0, ok = false, Nil,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
    }
    if (res.ok) op match {
      case CensoEtl => t.count("pipeline.censo_s", res.seconds)
      case QueryKey("c39_curation_pipeline") => t.count("pipeline.curation_s", res.seconds)
      case _ =>
    }
    (res, t.endOp(op.name, pass), built)
  }

  private def inputTables(op: Op, df: Option[DataFrame], data: String): Seq[String] =
    op.tables.getOrElse(df.toSeq.flatMap(_.inputFiles).flatMap { f =>
      val rel = f.substring(f.indexOf(data) + data.length).stripPrefix("/")
      rel.split('/').headOption.map(_.stripSuffix(".parquet"))
    }.distinct)

  def run(a: Main.Args, jvmStartMs: Long): Int = {
    val r = new Run(a)
    val expected = {
      val fp = Json.fingerprints(a("fingerprints"))
      // self-check: a planted wrong fingerprint must surface as a failure
      a.get("plant").fold(fp)(k => fp.updated(k, Fingerprint(-1L, "planted")))
    }
    val tb = System.nanoTime()
    val stream = r.workload == "stream_events"
    val s = Main.session(r.work, if (stream) Some(StreamBench.Partitions) else None)
    r.setupCounters("session.build_s") = (System.nanoTime() - tb) / 1e9
    r.hostFacts(s)
    val trace = new Trace(s)
    if (stream) return StreamBench.run(r, s, trace, jvmStartMs)
    val b = Workloads.batch.getOrElse(r.workload,
      sys.error(s"unknown workload ${r.workload}"))
    val c = Ctx(s, r.data, r.work, trace)
    // warm pass at the timed scale, answer-checked; its plans give the
    // tables each op reads
    val tw = System.nanoTime()
    val passRows = b.ops.map { op =>
      val (res, _, df) = runOp(c, op, expected, -1)
      r.record(res.ok, s"warm ${op.name}: ${res.error.getOrElse(res.mismatches.mkString("; "))}")
      inputTables(op, df, r.data).map(r.tableRows.getOrElse(_, 0L)).sum
    }.sum
    cleanup(s)
    r.setupCounters("session.warmup_s") = (System.nanoTime() - tw) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val heapMb = r.retainedHeapMb()

    val rng = new scala.util.Random(r.seed)
    val untraced, traced = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val order = mutable.ArrayBuffer.empty[Seq[String]]
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    var pass = 0
    // the traced run interleaves untraced and traced passes in the order
    // U T T U, so JIT warm-up over the run cancels out of the overhead
    while (System.nanoTime() < deadline || pass < (if (r.traceOn) 4 else 1)) {
      val tracedPass = Bench.tracedPass(r.traceOn, pass)
      trace.activate(tracedPass)
      val ops = rng.shuffle(b.ops)
      order += ops.map(_.name)
      val sums = mutable.Map.empty[String, Double]
      val p0 = System.nanoTime()
      var ok = true
      val times = ops.map { op =>
        val (res, counters, _) = runOp(c, op, expected, pass)
        r.record(res.ok, s"pass $pass ${op.name}: ${res.error.getOrElse(res.mismatches.mkString("; "))}")
        ok &&= res.ok
        counters.foreach { case (k, v) =>
          sums(k) = if (k == "exchange.skew") math.max(sums.getOrElse(k, 0.0), v)
                    else sums.getOrElse(k, 0.0) + v
        }
        if (res.ok) Some(op.name -> res.seconds) else None
      }
      val wall = (System.nanoTime() - p0) / 1e9
      trace.activate(false)
      cleanup(s)
      System.gc() // every pass starts from the same collected heap
      if (ok) (if (tracedPass) traced else untraced) += wall
      if (!tracedPass) opTimes ++= times.flatten
      if (tracedPass) perPass += sums.toMap
      pass += 1
    }

    // a failed op voids its pass; with no clean pass there is no time
    val passS = if (untraced.isEmpty) Double.NaN else median(untraced.toSeq)
    val opS = opTimes.map(_._2).toSeq
    val metrics =
      if (!r.traceOn) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_geomean_s", opGeomean(opTimes.toSeq), "s"),
        ("rows_per_s", passRows / passS, "rows/s"),
        ("heap_retained_mb", heapMb, "MB"))
      else Layers.report(r, perPass.toSeq,
        "trace.overhead_frac" -> (if (traced.isEmpty || untraced.isEmpty) Double.NaN
                                  else median(traced.toSeq) / passS - 1))
    r.finish(metrics, Map("passes" -> pass, "op_n" -> opTimes.size,
      "op_p50_s" -> (if (opS.isEmpty) Double.NaN else quantile(opS, 0.5)),
      "op_p90_s" -> (if (opS.isEmpty) Double.NaN else quantile(opS, 0.9)),
      "pass_samples_s" -> untraced, "traced_pass_samples_s" -> traced,
      "op_samples_s" -> opTimes.map { case (n, t) => Seq(n, t) }, "pass_order" -> order,
      "input_rows_per_pass" -> passRows), if (r.traceOn) Some(trace) else None)
  }

  /** Runs every checked op once and writes each answer as parquet, its
    * fingerprint, and the DuckDB oracle SQL it must agree with.
    */
  def fingerprint(a: Main.Args): Unit = {
    val out = a("out")
    val s = Main.session(a("work"))
    val c = Ctx(s, a("data"), a("work"), new Trace(s))
    val fps = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    Workloads.batch.values.toSeq.sortBy(_.name).foreach { b =>
      b.ops.foreach { op =>
        cleanup(s)
        op.execute(c, op.build(c)).foreach { ans =>
          if (!fps.contains(ans.key)) {
            val fp = Fingerprint.of(ans.schema, ans.rows)
            s.createDataFrame(java.util.Arrays.asList(ans.rows: _*), ans.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$out/${ans.key}")
            fps(ans.key) = Map("rows" -> fp.rows, "hash" -> fp.hash)
            println(s"fingerprint ${ans.key} $fp")
          }
        }
      }
    }
    val oracle = SparkEntry.oracleSql
    val sql = fps.keys.toSeq.map {
      case "censo_etl_pruned" => "censo_etl_pruned" ->
        s"SELECT * FROM (${oracle("a11_censo_pipeline")}) WHERE TP_RETURN = 'Refused'"
      case k => k -> oracle.getOrElse(k, sys.error(s"no oracle SQL for $k"))
    }.toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/fingerprints.json"),
      Json(Map("ops" -> fps)).getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(sql).getBytes("UTF-8"))
  }
}
