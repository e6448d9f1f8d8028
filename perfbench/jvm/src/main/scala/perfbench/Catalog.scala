package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry}
import graft.operators._

/** The curation workload: a fixed list of catalog queries, each executed
  * through its full physical plan into Spark's `noop` sink.
  */
object Catalog {
  /** Owning `*Ops` object of every curation query key. */
  val owners: Map[String, String] = Seq(
    "DedupOps" -> DedupOps.all, "EmbeddingOps" -> EmbeddingOps.all, "TextOps" -> TextOps.all)
    .flatMap { case (owner, ops) => ops.map(_.key -> owner) }.toMap

  /** Curation queries that build artifacts and call the native kernels:
    * KnnIndex (dot_micros, topk_min), the MinHash LSH dedup (minhash16),
    * TokenizerIndex (bpe_count) and LangIndex. The IvfPq and trigram-LM
    * queries cost 6 s cold each here, so they are measured by the traced
    * run's artifact and kernel probes instead.
    */
  val curation: Seq[String] = Seq(
    "dedup_minhash_lsh", "emb_knn_graph", "text_bpe_count_learned",
    "text_langid_learned").sorted

  val ownerNames: Seq[String] = curation.map(owners).distinct.sorted

  final case class Times(key: String, cold: Double, warm: Seq[Double], ok: Boolean)

  private lazy val queries = SparkEntry.queries

  def plan(spark: SparkSession, data: String, key: String): DataFrame =
    queries(key)(spark, data)

  def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(k: String, tr: Tracer)(body: => Unit): Option[Double] =
    tr.span(k, "operators") {
      try Some(Stats.gcSecs(body)._2)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $k FAILED: $e")
          None
      }
    }

  /** Time every query in a cache scope of its own. Cold: its first run,
    * in the fresh scope, which also fills the scope. Warm: `reps` runs
    * right after it, against the caches the cold run filled.
    */
  def run(spark: SparkSession, data: String, keys: Seq[String], reps: Int,
      tr: Tracer): (Seq[Times], Int) = {
    var livePeak = 0
    val times = keys.map { k =>
      Caches.releaseScope()
      val cold = timed(s"$k cold", tr)(execute(plan(spark, data, k)))
      val warm = if (cold.isEmpty) Nil
        else (1 to reps).map(_ => timed(s"$k warm", tr)(execute(plan(spark, data, k))))
      livePeak = math.max(livePeak, Caches.liveCount)
      Caches.releaseScope()
      System.err.println(f"[perfbench] $k cold ${cold.getOrElse(0.0)}%.3f warm ${
        warm.flatten.map(x => f"$x%.3f").mkString(" ")}")
      Times(k, cold.getOrElse(0.0), warm.flatten, cold.isDefined && warm.forall(_.isDefined))
    }
    (times, livePeak)
  }

  /** Result digest of every query, outside the timed region. */
  def digests(spark: SparkSession, data: String, keys: Seq[String]): Map[String, String] =
    keys.map { k =>
      val d = try Digest.of(plan(spark, data, k)).toString
      catch { case NonFatal(e) => s"error: $e" }
      Caches.releaseScope()
      k -> d
    }.toMap
}
