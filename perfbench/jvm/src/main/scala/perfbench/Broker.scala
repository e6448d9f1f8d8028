package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Caches
import graft.sources.{Backfill, BackfillReport, ParquetSink, SinkRegistry}
import graft.streaming.EventIngest

/** The broker workload: the reference's write path into fresh
  * `ParquetSink` logs, in four phases — a cold backfill of the `orders`
  * model with its nested `order_lines` sink, the same backfill re-run
  * (the gate skips every item), a closed loop of single-object dumps on
  * seed-drawn ids, and an open-loop streaming ingest of seed-generated
  * events.
  */
object Broker {
  final case class Params(batchSize: Long, rounds: Int, rerunsPerRound: Int,
      dumpsPerRound: Int, ingestBatches: Int, eventsPerBatch: Int, intervalMs: Long)

  final case class Epoch(batchId: Long, endOffset: Long, commitNs: Long,
      inputRows: Long, addBatchMs: Long, walCommitMs: Long, planningMs: Long,
      stateRows: Long, stateBytes: Long)

  /** One round of phases 1 to 3; `reruns` holds (report, seconds) per
    * re-run and `dumps` (object id, rows appended, latency ms) per call.
    */
  final case class Round(cold: BackfillReport, coldS: Double,
      reruns: Seq[(BackfillReport, Double)], dumps: Seq[(Long, Long, Double)])

  final case class Result(rounds: Seq[Round], lagMs: Seq[Double], lateMs: Seq[Double],
      epochs: Seq[Epoch], events: Seq[(Timestamp, String, Double)], dirs: Dirs)

  final case class Dirs(root: String) {
    val orders = s"$root/sink_orders"
    val lines = s"$root/sink_order_lines"
    val stream = s"$root/sink_events"
    val ckpt = s"$root/ckpt_events"
  }

  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")

  /** The seed-drawn event stream: event time advances monotonically, so no
    * event is ever behind the ingest's watermark.
    */
  def events(seed: Long, n: Int): Seq[(Timestamp, String, Double)] = {
    val rnd = new java.util.Random(seed)
    val t0 = Timestamp.valueOf("2024-02-01 00:00:00").getTime
    var t = t0
    (0 until n).map { _ =>
      t += rnd.nextInt(2000)
      (new Timestamp(t), EventTypes(rnd.nextInt(EventTypes.length)),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
  }

  /** Phases 1 to 3 run interleaved in `rounds` rounds, so a burst of load
    * on the host lands on one sample of each rather than on all of them:
    * a cold backfill into fresh logs, `rerunsPerRound` re-runs against
    * them, then `dumpsPerRound` dumps into them. A lighter round 0 (one
    * re-run, one dump) goes first to warm the JIT on the write path. A
    * full collection before each backfill clears the garbage of the round
    * before; inside a round only young collections (about 10 ms each) run.
    * The ingest runs last.
    */
  def run(spark: SparkSession, data: String, work: String, seed: Long,
      p: Params, tr: Tracer): Result = {
    val dirs = Dirs(work)
    Files.deleteTree(new java.io.File(work))
    val orders = ParquetSink(dirs.orders)
    val nested = Map("order_lines" -> ParquetSink(dirs.lines))
    val rnd = new java.util.Random(seed)
    val rounds = (0 to p.rounds).map { i =>
      val (nReruns, nDumps) = if (i == 0) (1, 1) else (p.rerunsPerRound, p.dumpsPerRound)
      Files.deleteTree(new java.io.File(dirs.orders))
      Files.deleteTree(new java.io.File(dirs.lines))
      val (cold, coldS) = released(tr.span("backfill", "sources") {
        Stats.gcSecs(Backfill.runModel(spark, data, "orders", orders, s"backfill-$seed-$i",
          1000000L, p.batchSize, nestedSinks = nested))
      })
      val reruns = (1 to nReruns).map { j =>
        released(tr.span("backfill rerun", "sources") {
          Stats.secs(Backfill.runModel(spark, data, "orders", orders, s"rerun-$seed-$i-$j",
            2000000L + j, p.batchSize, nestedSinks = nested))
        })
      }
      val nOrders = cold.itemsEligible + cold.itemsSkipped
      val dumps = (1 to nDumps).map { j =>
        val id = (rnd.nextDouble() * nOrders).toLong
        released(tr.span(s"dump $id", "sources") {
          val (n, s) = Stats.secs(SinkRegistry.dumpModel(spark, data, "orders", id,
            orders, s"dump-$seed-$i-$j", 3000000L + j, nested))
          (id, n, s * 1000)
        })
      }
      Round(cold, coldS, reruns, dumps)
    }

    val evs = events(seed, p.ingestBatches * p.eventsPerBatch)
    val (lagMs, lateMs, epochs) = tr.span("ingest", "streaming") {
      ingest(spark, dirs, evs, p)
    }
    Result(rounds, lagMs, lateMs, epochs, evs, dirs)
  }

  /** Close the call's cache scope (the sinks' local checkpoints), as a
    * deployment does between calls; outside the timed region.
    */
  private def released[T](r: T): T = { Caches.releaseScope(); r }

  /** Open loop: batch i is due at t0 + i·interval whatever the stream is
    * doing; its lag runs from that due time to the end of the first epoch
    * whose source offset covers it.
    */
  private def ingest(spark: SparkSession, dirs: Dirs,
      evs: Seq[(Timestamp, String, Double)], p: Params)
      : (Seq[Double], Seq[Double], Seq[Epoch]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Timestamp, String, Double)]
    val seen = new ConcurrentLinkedQueue[Epoch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val t = System.nanoTime()
        val pr = e.progress
        val end = pr.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(_.trim.toLong).getOrElse(-1L)
        def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val st = pr.stateOperators
        if (pr.numInputRows > 0)
          seen.add(Epoch(pr.batchId, end, t, pr.numInputRows, d("addBatch"),
            d("walCommit"), d("queryPlanning"), st.map(_.numRowsTotal).sum,
            st.map(_.memoryUsedBytes).sum))
      }
    }
    spark.streams.addListener(listener)
    val q = EventIngest.start(src.toDS().toDF("ts", "event_type", "value"),
      dirs.stream, dirs.ckpt)
    val batches = evs.grouped(p.eventsPerBatch).toSeq
    val intervalNs = p.intervalMs * 1000000L
    val t0 = System.nanoTime() + intervalNs
    val sent = batches.zipWithIndex.map { case (b, i) =>
      val due = t0 + i * intervalNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val off = src.addData(b).toString.trim.toLong
      (due, System.nanoTime(), off)
    }
    q.processAllAvailable()
    q.stop()
    // progress events reach the listener asynchronously; wait for the last
    val lastOff = sent.last._3
    val deadline = System.nanoTime() + 10000000000L
    while (!seen.asScala.exists(_.endOffset >= lastOff) && System.nanoTime() < deadline)
      Thread.sleep(10)
    spark.streams.removeListener(listener)
    val eps = seen.asScala.toSeq.sortBy(_.batchId)
    val lag = sent.map { case (due, _, off) =>
      eps.find(_.endOffset >= off).map(e => (e.commitNs - due) / 1e6)
        .getOrElse(Double.NaN)
    }
    (lag, sent.map { case (due, at, _) => (at - due) / 1e6 }, eps)
  }

  /** Outside the timed region: every check the broker's outputs must pass,
    * as (name, passed) pairs.
    */
  def check(spark: SparkSession, data: String, r: Result): Seq[(String, Boolean)] = {
    val spec = SinkRegistry.byModelName("orders").get
    val source = spec.serialize(spark, data)
    val nOrders = source.count()
    val lines = graft.Tables.lineitem(spark, data)
    val nLines = lines.count()
    val dumps = r.rounds.flatMap(_.dumps)
    val perOrder = lines.filter(col("l_orderkey").isin(dumps.map(_._1).distinct: _*))
      .groupBy("l_orderkey").count().collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val state = ParquetSink(r.dirs.orders).latestState(spark, Seq(spec.serializedKey))
      .drop("dump_id", "time_last_dumped_us")
    val stream = EventIngest.latestState(spark, r.dirs.stream)
    import spark.implicits._
    val batch = EventIngest.windowedAgg(r.events.toDF("ts", "event_type", "value"))
    Seq(
      "backfill lands every parent and nested row" -> r.rounds.forall(x => x.cold.ok &&
        x.cold.rowsAppended == nOrders && x.cold.nestedRowsAppended == nLines),
      "every re-run appends nothing and skips every item" ->
        r.rounds.flatMap(_.reruns.map(_._1)).forall(x => x.ok && x.rowsAppended == 0 &&
          x.nestedRowsAppended == 0 && x.itemsSkipped == nOrders),
      "each dump appends its parent and nested rows" ->
        dumps.forall { case (id, n, _) => n == 1 + perOrder.getOrElse(id, 0L) },
      "backfill latest state equals the serialized source" ->
        (Digest.of(state.select(source.columns.toSeq.map(col): _*)) == Digest.of(source)),
      "every ingest batch committed" -> r.lagMs.forall(!_.isNaN),
      "stream latest state equals the batch windowed aggregate" ->
        (Digest.of(stream.select(batch.columns.toSeq.map(col): _*)) == Digest.of(batch)))
  }
}
