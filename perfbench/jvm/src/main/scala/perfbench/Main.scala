package perfbench

import java.nio.file.{Files => JFiles, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** The benchmark's JVM side: sets up a graft session, runs one workload,
  * checks its outputs and prints every metric, the last line being one
  * JSON object. `perfbench/run.py` builds this and passes the arguments:
  *
  *   --workload curation|broker --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --expected FILE --launched-at EPOCH_S
  *   [--derive FILE]   write result digests instead of checking them
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  private def say(s: String): Unit = println(s"[perfbench] $s")

  /** What a workload measured. `check` runs the output checks after the
    * timed phases, each as (name, passed, timed operations it covers).
    */
  final case class Outcome(e2e: Seq[(String, Double, String)], layer: Seq[(String, Double)],
      attempted: Long, failed: Long, check: () => Seq[(String, Boolean, Long)],
      grownLog: Option[String] = None)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    require(Seq("curation", "broker").contains(workload), s"unknown workload $workload")
    val tr = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis}")

    // set-up, three times: the first from JVM launch, the others rebuild the
    // session in the warm JVM; the reported figure is the median
    val launched = (a("launched-at").toDouble * 1000).toLong
    var spark: SparkSession = null
    val setups = (0 until 3).map { i =>
      val t0 = if (i == 0) launched else System.currentTimeMillis()
      if (spark != null) spark.stop()
      val (s, buildS) = Stats.secs(tr.span("session build", "session")(session(cores, work)))
      spark = s
      val (_, warmS) = Stats.secs(tr.span("warm-up", "session")(warmUp(spark, data)))
      ((System.currentTimeMillis() - t0) / 1000.0, buildS, warmS)
    }
    val calib0 = calibrate(spark)
    tr.attach(spark)

    val wStart = System.nanoTime()
    val o = tr.span(workload, "bench") {
      if (workload == "broker") broker(spark, data, work, seed, seconds, tr)
      else catalog(spark, data, seconds, a("expected"), a.get("derive"), tr)
    }
    val workloadS = (System.nanoTime() - wStart) / 1e9
    // the spark totals cover the timed workload alone: no check, no probe
    val totals = if (traced) sparkTotals(tr) else Nil
    val (checks, checkS) = Stats.secs(o.check())
    val calib1 = calibrate(spark)

    checks.filterNot(_._2).foreach(c => say(s"CHECK FAILED: ${c._1}"))
    val failed = o.failed + checks.filterNot(_._2).map(_._3).sum
    val correct = checks.nonEmpty && failed == 0
    say(s"seed $seed, workload $workload, ${checks.count(_._2)}/${checks.size} checks passed")
    say(s"host nproc=$cores driver_mem_mb=${Runtime.getRuntime.maxMemory / 1048576} jdk=${
      System.getProperty("java.version")} spark=${spark.version} calib_ms=${
      f"${calib0 * 1000}%.1f"} calib_end_ms=${f"${calib1 * 1000}%.1f"}")
    say(f"wall: set-ups ${setups.map(_._1).sum}%.1f s, workload $workloadS%.1f s, checks $checkS%.1f s")

    val e2e = ("setup_s", Stats.median(setups.map(_._1)), "s") +: o.e2e
    val out =
      if (!traced) e2e
      else {
        val layer = Seq.newBuilder[(String, Double)]
        layer += "session.build_s" -> Stats.median(setups.map(_._2))
        layer += "session.warmup_s" -> Stats.median(setups.map(_._3))
        layer ++= o.layer
        layer ++= totals
        layer ++= Probes.tables(spark, data, tr)
        o.grownLog.foreach(dir => layer ++= Probes.sink(spark, dir, tr))
        if (workload == "curation") {
          layer ++= Probes.kernels(spark, data, tr)
          layer ++= Probes.artifacts(spark, data, s"$work/artifacts", tr)
        }
        val self = tr.selfTimeByLayer
        layer ++= Layers.map(l => s"self.$l.s" -> self.getOrElse(l, 0.0))
        e2e.foreach { case (n, v, _) => layer += s"traced.$n" -> v }
        layer += "trace.workload_s" -> workloadS
        layer += "trace.overhead_s" -> tr.overheadS
        layer += "trace.spans" -> tr.all.size.toDouble
        val spanFile = Paths.get(work, s"spans-$workload-$seed.jsonl")
        tr.write(spanFile)
        say(s"span file: $spanFile")
        say("self time by layer (workload, checks and probes):")
        (Layers :+ "bench").foreach(l => say(f"  $l%-10s ${self.getOrElse(l, 0.0)}%9.4f s"))
        say(f"tracing overhead: ${tr.overheadS}%.4f s of listener and span bookkeeping")
        // every traced run reports the whole set; a metric this workload does
        // not exercise reads 0
        val measured = layer.result().toMap
        val unknown = measured.keySet -- PerLayer
        require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
        PerLayer.map(n => (n, measured.getOrElse(n, 0.0), unitOf(n)))
      }
    out.foreach { case (n, v, u) => say(f"metric $n = $v%.6f $u") }
    val metrics = Json.obj(out.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
    if (!correct) sys.exit(1)
  }

  /** curation: the catalog queries, cold then warm. */
  private def catalog(spark: SparkSession, data: String, seconds: Double,
      expectedFile: String, derive: Option[String], tr: Tracer): Outcome = {
    val keys = Catalog.curation
    // warm runs per query: five at the default 12 s, more if given longer
    val reps = math.max(3, (seconds / 2.4).toInt)
    val (times, livePeak) = Catalog.run(spark, data, keys, reps, tr)
    val good = times.filter(_.ok)
    val warmMed = good.map(t => t.key -> Stats.median(t.warm)).toMap
    val pooled = good.flatMap(_.warm).map(_ * 1000)
    val (p, tail) = Stats.tail(pooled)
    times.foreach(t => say(f"query ${t.key}%-28s cold ${t.cold}%.4f s  warm ${
      if (t.warm.isEmpty) 0.0 else Stats.median(t.warm)}%.4f s"))
    say(f"warm query runs: p50 ${Stats.median(pooled)}%.1f ms, p$p $tail%.1f ms, n=${pooled.size}")
    val layer = Catalog.ownerNames.flatMap { o =>
      val mine = good.filter(t => Catalog.owners(t.key) == o)
      Seq(s"ops.$o.cold_s" -> mine.map(_.cold).sum, s"ops.$o.warm_s" -> mine.map(t => warmMed(t.key)).sum)
    } :+ ("caches.live_peak" -> livePeak.toDouble)
    val check = () => {
      val expected = readExpected(expectedFile)
      val digests = Catalog.digests(spark, data, keys)
      derive.foreach(f => writeDigests(f, "curation", digests))
      keys.map { k =>
        val want = expected.get(s"curation\t$k")
        if (!want.contains(digests(k)))
          say(s"WRONG $k: got ${digests(k)}, expected ${want.getOrElse("none")}")
        (s"$k digest", want.contains(digests(k)), 1L + reps)
      }
    }
    Outcome(Seq(
      ("cold_s", good.map(_.cold).sum, "s"),
      ("warm_s", warmMed.values.sum, "s"),
      ("warm_geomean_ms", Stats.geomean(warmMed.values.toSeq.map(_ * 1000)), "ms")),
      layer, times.size.toLong * (1 + reps), times.count(!_.ok).toLong * (1 + reps), check)
  }

  /** broker: backfill, re-run and dump rounds, then the open-loop ingest. */
  private def broker(spark: SparkSession, data: String, work: String, seed: Long,
      seconds: Double, tr: Tracer): Outcome = {
    // three rounds of three re-runs and two dumps after the warm-up round;
    // the ingest offers about half the 12k events/s it sustains on 4 cores
    val p = Broker.Params(batchSize = 10000L, rounds = 3, rerunsPerRound = 3,
      dumpsPerRound = math.max(2, seconds.toInt / 6),
      ingestBatches = 60, eventsPerBatch = 900, intervalMs = 150L)
    val r = Broker.run(spark, data, s"$work/broker", seed, p, tr)
    // round 0 warms the JIT on the write path, so the figures come from
    // the later rounds. The backfill still speeds up from round to round,
    // so the median of three would be the middle round's alone; the mean
    // uses all three.
    val steady = r.rounds.tail
    val coldS = steady.map(_.coldS).sum / steady.size
    val rerunS = Stats.median(steady.flatMap(_.reruns.map(_._2)))
    val dumpMs = steady.flatMap(_.dumps.map(_._3))
    val (dp, dumpTail) = Stats.tail(dumpMs)
    val (lp, lagTail) = Stats.tail(r.lagMs)
    val last = r.rounds.last
    val landed = last.cold.rowsAppended + last.cold.nestedRowsAppended
    val sinkRows = landed + last.dumps.map(_._2).sum + r.epochs.map(_.inputRows).sum
    val sinkBytes = Seq(r.dirs.orders, r.dirs.lines, r.dirs.stream)
      .map(d => Files.usage(new java.io.File(d))._2).sum
    def ms(xs: Seq[Double]) = xs.map(x => f"$x%.0f").mkString(", ")
    say(s"rounds: cold backfill ${ms(r.rounds.map(_.coldS * 1000))} ms; re-runs ${
      ms(r.rounds.flatMap(_.reruns.map(_._2 * 1000)))} ms; dumps ${
      ms(r.rounds.flatMap(_.dumps.map(_._3)))} ms")
    say(f"backfill_rows_per_s = ${landed / coldS}%.1f rows/s")
    say(f"dump_p50_ms = ${Stats.median(dumpMs)}%.1f ms; p$dp $dumpTail%.1f ms of ${dumpMs.size} dumps")
    say(f"ingest_lag_p50_ms = ${Stats.median(r.lagMs)}%.1f ms; p$lp $lagTail%.1f ms of ${
      r.lagMs.size} batches of ${p.eventsPerBatch} events every ${p.intervalMs} ms")
    say(f"sink_bytes_per_row = ${sinkBytes.toDouble / sinkRows}%.2f bytes/row")
    val eps = r.epochs
    val layer = Seq(
      "backfill.first_s" -> r.rounds.head.coldS,
      "backfill.batches" -> last.cold.batchesLanded.size.toDouble,
      "backfill.batch_s" -> coldS / math.max(1, last.cold.batchesLanded.size),
      "backfill.skipped" -> last.reruns.last._1.itemsSkipped.toDouble,
      "backfill.rows_per_s" -> landed / coldS,
      "sink.bytes_per_row" -> sinkBytes.toDouble / sinkRows,
      "dump.p50_ms" -> Stats.median(dumpMs),
      "dump.tail_ms" -> dumpTail,
      "stream.lag_p50_ms" -> Stats.median(r.lagMs),
      "stream.lag_tail_ms" -> lagTail,
      "stream.epochs" -> eps.size.toDouble,
      "stream.rows_per_epoch" -> Stats.median(eps.map(_.inputRows.toDouble)),
      "stream.add_batch_ms" -> Stats.median(eps.map(_.addBatchMs.toDouble)),
      "stream.wal_commit_ms" -> Stats.median(eps.map(_.walCommitMs.toDouble)),
      "stream.planning_ms" -> Stats.median(eps.map(_.planningMs.toDouble)),
      "stream.state_rows" -> eps.last.stateRows.toDouble,
      "stream.state_mb" -> eps.last.stateBytes / 1e6,
      "stream.gen_late_ms" -> Stats.median(r.lateMs))
    Outcome(Seq(
      ("cold_s", coldS, "s"),
      ("warm_s", rerunS, "s"),
      // per-operation medians, as for the catalog's queries: the re-run,
      // the single-object dump and the open-loop ingest batch
      ("warm_geomean_ms", Stats.geomean(Seq(rerunS * 1000, Stats.median(dumpMs),
        Stats.median(r.lagMs))), "ms")),
      layer, r.rounds.map(x => 1L + x.reruns.size + x.dumps.size).sum + r.lagMs.size,
      r.rounds.map(x => x.cold.batchesFailed.size +
        x.reruns.map(_._1.batchesFailed.size).sum).sum.toLong,
      () => Broker.check(spark, data, r).map { case (n, ok) => (n, ok, 1L) },
      Some(r.dirs.orders))
  }

  val Layers: Seq[String] = Seq("session", "tables", "operators", "artifacts", "functions",
    "sources", "streaming", "spark")

  /** Every per-layer metric a traced run prints, in order. */
  val PerLayer: Seq[String] = Seq("session.build_s", "session.warmup_s") ++
    Catalog.ownerNames.flatMap(o => Seq(s"ops.$o.cold_s", s"ops.$o.warm_s")) ++
    Seq("caches.live_peak") ++
    Seq("backfill.first_s", "backfill.batches", "backfill.batch_s", "backfill.skipped",
      "backfill.rows_per_s", "sink.bytes_per_row", "dump.p50_ms", "dump.tail_ms",
      "stream.lag_p50_ms", "stream.lag_tail_ms", "stream.epochs", "stream.rows_per_epoch",
      "stream.add_batch_ms", "stream.wal_commit_ms", "stream.planning_ms",
      "stream.state_rows", "stream.state_mb", "stream.gen_late_ms",
      "sink.append_1_s", "sink.append_10k_s", "sink.latest_state_s", "sink.compact_s",
      "sink.files", "sink.bytes") ++
    Seq("plan_ms", "jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "sched_delay_s",
      "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "skew").map("spark." + _) ++
    Seq("tables.scan_s", "tables.rows") ++
    Probes.Kernels.flatMap(k => Seq(s"kernel.$k.s", s"kernel.$k.rows_per_s")) ++
    Probes.Indexes.flatMap(i => Seq("build_s", "save_s", "load_s", "bytes").map(m => s"artifact.$i.$m")) ++
    Layers.map(l => s"self.$l.s") ++
    Seq("setup_s", "cold_s", "warm_s", "warm_geomean_ms").map("traced." + _) ++
    Seq("trace.workload_s", "trace.overhead_s", "trace.spans")

  def unitOf(name: String): String = name.split('.').last match {
    case "rows_per_s" => "rows/s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") || n == "s" => "s"
    case n if n.endsWith("_mb") => "MB"
    case "bytes_per_row" => "bytes/row"
    case "bytes" => "bytes"
    case "skew" => "ratio"
    case _ => "count"
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JIT, codegen, parquet footers and the native kernels all initialize
    * on first use; pay for that here, not in the first timed query.
    */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(t => Tables.load(spark, data, t).schema)
    Tables.embeddings(spark, data).limit(64).groupBy("label").agg(
      sum(call_function("dot_micros", col("embedding"), col("embedding")) % 1000),
      call_function("topk_min", struct(col("vec_id")), lit(3))).collect()
    Tables.documents(spark, data).limit(64).select(
      sum(element_at(call_function("minhash16", array_distinct(split(col("text"), " "))), 1) % 1000),
      sum(call_function("bpe_count", col("text")))).collect()
  }

  /** A fixed CPU-bound Spark job; its time says how loaded the host is. */
  def calibrate(spark: SparkSession): Double = Stats.median((1 to 3).map(_ =>
    Stats.secs(spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(hash(id) % 1000)").collect())._2))

  def sparkTotals(tr: Tracer): Seq[(String, Double)] = {
    val st = tr.stages.values.asScala.toSeq
    val skew = st.filter(_.taskRunMs.size >= 2).map { a =>
      val med = Stats.median(a.taskRunMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else a.taskRunMs.max / med
    }
    val jobs = tr.all.count(s => s.layer == "spark" && s.name.startsWith("job"))
    Seq("spark.plan_ms" -> tr.planMs.get.toDouble, "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> st.size.toDouble, "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> st.map(_.runMs).sum / 1e3,
      "spark.sched_delay_s" -> st.map(_.schedMs).sum / 1e3,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> st.map(_.shuffleReadB).sum / 1e6,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWriteB).sum / 1e6,
      "spark.spill_mb" -> st.map(_.spillB).sum / 1e6,
      "spark.skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  def readExpected(f: String): Map[String, String] =
    JFiles.readAllLines(Paths.get(f)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val p = l.split("\t"); s"${p(0)}\t${p(1)}" -> p(2) }.toMap

  def writeDigests(f: String, workload: String, d: Map[String, String]): Unit =
    JFiles.write(Paths.get(f), d.toSeq.sorted.map { case (k, v) => s"$workload\t$k\t$v" }.asJava)
}
