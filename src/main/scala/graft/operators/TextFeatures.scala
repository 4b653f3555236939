package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text → embedding bridge (VERDICT r19 item 1 — the move
  * [[graft.multimodal.Multimodal.gridFeatureVec]] made for images,
  * for the text modality): a deterministic, engine-replayable feature
  * vector derived from the raw text, surfaced as `e: array<double>`
  * so the ENTIRE semantic tier ([[Similarity.ivfPqSearch]] bulk kNN graphs,
  * [[GraphDedup.knnGraphDedup]], [[GraphDedup.diversityPrototypes]],
  * SemDeDup) runs on real documents end to end instead of entering at
  * the synthetic `embeddings` table.
  *
  * The feature family is the DSIR hashed-unigram one (Xie et al. 2023,
  * already the engine's cross-engine feature convention —
  * [[graft.queries.Scoring]]'s importance weights and the Rocchio
  * quality classifier both bucket unigrams by the first md5 hex byte):
  * token w lands in bucket = value of md5(w)'s first byte (256
  * buckets), e[b] = raw term frequency. Raw INTEGER counts, not a
  * normalized profile: counts are exact in doubles, so dot products
  * and norms replay bit-identically in any engine, and the cosine the
  * dedup tier computes downstream is scale-invariant — normalizing
  * here would only add a float op the oracle must reproduce.
  *
  * 100 TB shape: one token explode (the DSIR scan), one partial-
  * aggregating groupBy on (doc_id, bucket) — tf rows, never text —
  * then a per-doc fold of ≤256 (bucket, tf) entries into the dense
  * array. Both shuffles are id-keyed and bounded; the text never
  * leaves the first map stage.
  */
object TextFeatures {

  /** Number of hash buckets = one md5 byte. */
  val Buckets = 256

  /** md5-first-byte bucket of a token column (0..255) — the
    * [[graft.queries.Scoring]] DSIR bucket, as an integer index. */
  def bucket(w: Column): Column =
    conv(substring(md5(w), 1, 2), 16, 10).cast("int")

  /** Per-document 256-bucket unigram tf vector over `docs`
    * (doc_id, text, …) → (doc_id, e: array<double>, n_tokens).
    * Documents are tokenized on single spaces (the corpus's and the
    * whole Docs family's convention). A document yields one row; its
    * `e` is dense with exact integer-valued counts. */
  def unigramBucketVec(docs: DataFrame): DataFrame = {
    val tok = Skew.spreadScan(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), bucket(col("w")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
    tok.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("tf"))))
          .as("m"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(Buckets - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("double"))
          .as("e"),
        col("n_tokens"))
  }
}
