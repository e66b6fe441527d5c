package jobbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity, TextFunctions => TF}
import graft.plans.AsOfNative

/** Times each public `graft.llm` and `graft.plans` call on its own: inputs are
  * cached and materialized first, and each call's result is consumed by an
  * all-column hash, so the span holds only that call's work. */
object Probes {
  private val NumHashes = 12
  private val BandSize = 3
  private val MinJaccard = 0.8
  private val K = 5
  private val Planes = 16
  private val Bands = 2
  private val Dims = 64

  /** Forces every column: a bare count() lets Catalyst prune computed columns. */
  def consume(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    r.getLong(0)
  }

  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    consume(c)
    c
  }

  def run(spark: SparkSession, w: Workload, tr: Tracer): Map[String, Double] = {
    val held = collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val m = materialize(df); held += m; m }
    try {
      val docs = keep(spark.read.parquet(w.in(w.str("llm_docs"))))
      val text = col("text")
      tr.span("llm.quality")(consume(docs.withColumn("__toks", TF.tokens(text))
        .select(col("doc_id"), length(text), size(col("__toks")), TF.bpeishTokenCount(text),
          TF.whitespaceRatio(text), TF.digitRatio(text), TF.punctRatio(text),
          TF.langIdFrom(text, col("__toks")))))
      tr.span("llm.exact_dedup")(consume(Dedup.keepFirst(docs, Seq(text), Seq(col("doc_id")))))
      val sh = tr.span("llm.shingle")(keep(Dedup.shingleFrame(docs, "doc_id", "text", 3)))
      val wide = tr.span("llm.minhash")(keep(Dedup.minhashWide(sh, "doc_id", NumHashes)))
      val cands = tr.span("llm.lsh_candidates")(
        keep(Dedup.bandedCandidatesWide(wide, "doc_id", NumHashes, BandSize)))
      val jac = tr.span("llm.jaccard")(
        keep(Dedup.jaccardFromShingles(cands, sh.withColumnRenamed("doc_id", "jid"))))
      val candidates = cands.count().toDouble
      val verified = jac.filter(col("jaccard") >= MinJaccard).count().toDouble

      val vecs = keep(spark.read.parquet(w.in(w.str("llm_vecs"))))
      val knn = tr.span("llm.knn")(keep(Similarity.lshBandedTopK(vecs, K, Planes, Bands, Dims)))
      val r = Planes / Bands
      val sigs = Similarity.lshBuckets(vecs, Planes, Dims).select(col("vec_id"),
        posexplode(array((0 until Bands).map(b => substring(col("bucket"), b * r + 1, r)): _*))
          .as(Seq("band", "bsig")))
      val knnPairs = sigs.as("a").join(sigs.as("b"), Seq("band", "bsig"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id")).distinct().count().toDouble
      // recall@k of the banded LSH against the exact brute force, on every
      // 20th vector as a query
      val queries = vecs.filter(col("vec_id") % 20 === 0)
      val exact = Similarity.bruteForceTopK(queries, vecs, K).select("qid", "vid")
      val hits = exact.join(knn.select("qid", "vid"), Seq("qid", "vid")).count().toDouble
      val recall = hits / math.max(1L, exact.count())

      val ev = spark.read.parquet(w.in(w.str("asof_events")))
      val left = keep(ev.filter(col("event_type") =!= "view"))
      val right = keep(ev.filter(col("event_type") === "view").select(col("user_id").as("v_user"),
        col("ts").as("v_ts"), col("event_id").as("v_event_id"), col("value").as("v_value")))
      val asofRows = tr.span("plans.asof")(consume(AsOfNative.join(left, right,
        left("user_id"), right("v_user"), left("ts"), right("v_ts"), right("v_event_id"))))

      Map(
        "llm.candidate_pairs" -> candidates,
        "llm.verified_pairs" -> verified,
        "llm.candidate_precision" -> (if (candidates > 0) verified / candidates else 0.0),
        "llm.knn_candidate_pairs" -> knnPairs,
        "llm.knn_recall_at_k" -> recall,
        "plans.asof_rows" -> asofRows.toDouble)
    } finally held.foreach(_.unpersist())
  }
}
