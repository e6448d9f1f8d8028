package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._
import graft.sources.{ParquetSink, Sinks}

/** Layer probes for traced runs: each calls one layer's public entry
  * points alone, so a change to that layer shows in its own numbers.
  */
object Probes {
  type Metrics = Seq[(String, Double)]

  private def forced(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def med3(body: => Unit): Double =
    Stats.median((1 to 3).map(_ => Stats.secs(body)._2))

  /** A `noop` scan of every loader. */
  def tables(spark: SparkSession, data: String, tr: Tracer): Metrics =
    tr.span("tables probe", "tables") {
      val (rows, s) = Stats.secs(Tables.names.map { t =>
        val df = if (t == "events") Tables.events(spark, data) else Tables.load(spark, data, t)
        forced(df)
        df.count()
      }.sum)
      Seq("tables.scan_s" -> s, "tables.rows" -> rows.toDouble)
    }

  val Kernels: Seq[String] = Seq("dot_micros", "minhash16", "topk_min", "pq_dists", "bpe_count")

  /** Each native kernel applied alone over the curation inputs, forced by
    * an aggregate the optimizer cannot prune.
    */
  def kernels(spark: SparkSession, data: String, tr: Tracer): Metrics = {
    val emb = Tables.embeddings(spark, data).cache()
    val docs = Tables.documents(spark, data).cache()
    val nEmb = emb.count()
    val nDocs = docs.count()
    val queries = broadcast(emb.filter(col("vec_id") < 16)
      .select(col("embedding").as("q")))
    val rnd = new java.util.Random(7)
    val codebook = typedLit(Seq.fill(16 * 64)(rnd.nextInt(2000000) - 1000000L))
    val plans: Seq[(String, DataFrame, Long)] = Seq(
      ("dot_micros", emb.crossJoin(queries)
        .select(sum(call_function("dot_micros", col("embedding"), col("q")) % 1000)),
        nEmb * 16),
      ("minhash16", docs.select(sum(element_at(call_function("minhash16",
        array_distinct(split(col("text"), " "))), 1) % 1000)), nDocs),
      ("topk_min", emb.groupBy(col("label"))
        .agg(call_function("topk_min", struct(col("vec_id")), lit(10))), nEmb),
      ("pq_dists", emb.select(sum(element_at(call_function("pq_dists", col("embedding"),
        codebook, lit(8), call_function("dot_micros", col("embedding"),
          col("embedding"))), 1) % 1000)), nEmb),
      ("bpe_count", docs.select(sum(call_function("bpe_count", col("text")))), nDocs))
    val out = plans.flatMap { case (k, df, rows) =>
      tr.span(s"kernel $k", "functions") {
        forced(df)
        val s = med3(forced(df))
        Seq(s"kernel.$k.s" -> s, s"kernel.$k.rows_per_s" -> rows / s)
      }
    }
    emb.unpersist()
    docs.unpersist()
    out
  }

  val Indexes: Seq[String] = Seq("KnnIndex", "IvfPqIndex", "LmIndex3", "TokenizerIndex", "LangIndex")

  /** Build (or train), save and load each of the five indexes the curation
    * catalog leans on, into fresh directories.
    */
  def artifacts(spark: SparkSession, data: String, work: String, tr: Tracer): Metrics = {
    val emb = Tables.embeddings(spark, data)
    val docs = Tables.documents(spark, data)
    def one[I](name: String)(build: => I)(save: (I, String) => Unit)(
        load: String => DataFrame): Metrics = tr.span(s"artifact $name", "artifacts") {
      val path = s"$work/$name"
      Files.deleteTree(new java.io.File(path))
      val (idx, b) = Stats.secs(build)
      val (_, s) = Stats.secs(save(idx, path))
      val (_, l) = Stats.secs(forced(load(path)))
      graft.Caches.releaseScope()
      Seq(s"artifact.$name.build_s" -> b, s"artifact.$name.save_s" -> s,
        s"artifact.$name.load_s" -> l,
        s"artifact.$name.bytes" -> Files.bytes(new java.io.File(path)).toDouble)
    }
    one("KnnIndex")(KnnIndex.build(emb))(KnnIndex.save)(p => KnnIndex.load(spark, p).edges) ++
      one("IvfPqIndex")(IvfPqIndex.build(emb))(IvfPqIndex.save)(p =>
        IvfPqIndex.load(spark, p).codes) ++
      one("LmIndex3")(LmIndex.train3(docs))((r, p) => LmIndex.save3(spark, r, p))(p =>
        LmIndex.load3(spark, p).trigrams) ++
      one("TokenizerIndex")(TokenizerIndex.train(spark, data, 64))(TokenizerIndex.save)(p =>
        TokenizerIndex.load(spark, p).vocab) ++
      one("LangIndex")(LangIndex.train(docs))((m, p) => LangIndex.save(spark, m, p))(p =>
        LangIndex.score(docs, LangIndex.load(spark, p)))
  }

  /** Appends of fixed size into the broker's grown parent log, then its
    * latest-state read and a compaction.
    */
  def sink(spark: SparkSession, dir: String, tr: Tracer): Metrics = tr.span("sink probe", "sources") {
    val log = ParquetSink(dir)
    def rows(n: Long, tag: String) = Sinks.stamped(spark.range(n).select(
      (col("id") + 10000000L).as("course_id"), lit("P").as("status"),
      (col("id") * 1.5).as("price"),
      lit("2000-01-01 00:00:00").cast("timestamp_ntz").as("last_published")),
      s"probe-$tag", 9000000L)
    val (_, a1) = Stats.secs(log.appendIdempotent(spark, rows(1, "1")))
    val (_, a10k) = Stats.secs(log.appendIdempotent(spark, rows(10000, "10k")))
    val (files, bytes) = Files.usage(new java.io.File(dir))
    val ls = med3(forced(log.latestState(spark, Seq("course_id"))))
    val (_, c) = Stats.secs(log.compact(spark, Seq("course_id")))
    Seq("sink.append_1_s" -> a1, "sink.append_10k_s" -> a10k, "sink.latest_state_s" -> ls,
      "sink.compact_s" -> c, "sink.files" -> files.toDouble, "sink.bytes" -> bytes.toDouble)
  }
}
