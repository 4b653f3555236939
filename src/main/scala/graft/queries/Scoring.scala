package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level scoring + selection operators for an LLM training-data
  * pipeline (SURVEY.md §2c, "beyond the reference" tier): the
  * CCNet-style n-gram LM quality score, DSIR importance resampling,
  * and per-domain frequency capping. All three are oracle-verified
  * end-to-end (DuckDB twins below).
  *
  * Cross-engine exactness follows the repo-standard discipline: every
  * count is exact; per-group float sums fold LEFT-TO-RIGHT over a
  * key-sorted value list in both engines (sort_array+aggregate here,
  * list_sum(list(x ORDER BY k)) there — the BM25/IVF-centroid
  * precedent), so the only inexactness is libm `ln` (1-ulp class,
  * inside the checker's 1e-12 float tolerance).
  */
object Scoring {

  private def seqSum(key: Column, x: Column): Column =
    aggregate(
      transform(array_sort(collect_list(struct(key, x.as("x")))),
        t => t.getField("x")),
      lit(0.0), (acc, v) => acc + v)

  /** #59 CCNet-style bigram-LM quality score (Wenzek et al. 2020:
    * score each document under a language model, bucket the corpus
    * into head/middle/tail). The model here is trained on the corpus
    * itself — an add-one-smoothed bigram LM (no external model ships
    * in this container) — which keeps the operator's data flow
    * identical to the real thing: train token statistics once, score
    * every document against them, cut at corpus-relative quantiles.
    *
    * nll is the per-bigram negative log likelihood
    * -Σ tf·ln((c12+1)/(c1+V)) / Σ tf, so lower = more typical of the
    * corpus; buckets are head/middle/tail at the exact nll tertiles.
    *
    * Scale shape (100 TB): the (doc, bigram) index is built in ONE
    * pass over the text (native NGramInstances kernel, partial-agg
    * shuffle on (doc_id, bigram)) and persisted; the model counts
    * (c12 by bigram, c1 by first word) derive from the index, not
    * from re-reading the corpus. The model join keys on the bigram —
    * a plain shuffle hash join that co-partitions index and model
    * (the model is corpus-vocabulary-sized, NOT broadcastable at
    * scale); the per-doc rollup is one more partial-agg shuffle on
    * doc_id. The tertile cutoffs here are the EXACT percentile
    * aggregate for oracle replay; at 100× the swap is
    * approx_percentile (mergeable sketch) with everything else
    * unchanged. */
  def docLmScore(s: SparkSession, d: String): DataFrame =
    lmScore(Tables.documents(s, d))

  /** Library form of #59 over any (doc_id, text) frame. */
  def lmScore(docs0: DataFrame): DataFrame = {
    // spread an unsplittable scan before the per-row n-gram kernels
    // (guide §2.5 input skew; no-op at production scale)
    val docs = graft.operators.Skew.spreadScan(docs0)
    // one text scan → (doc_id, bigram, tfb), persisted and reused by
    // the model-count branches and the per-doc scoring branch
    val tfb = graft.CacheScope.persistTracked(
      docs.select(col("doc_id"),
          explode(graft.functions.NGramInstances.column(
            split(col("text"), " "), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("tfb")))
    // c12 is persisted: the w1 marginal below and the model join both
    // read it, and deriving c1 from c12 (exact: sums of longs are
    // associative) shuffles |distinct bigrams| rows instead of
    // re-shuffling the whole (doc, bigram) index on w1 — guide §2.3
    // "aggregate before you shuffle" (r22; was tfb.groupBy(w1))
    val c12 = graft.CacheScope.persistTracked(
      tfb.groupBy("bg").agg(sum("tfb").as("c12"))
        .withColumn("w1", element_at(split(col("bg"), " "), 1)))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    // unigram vocabulary size — WITHOUT the second full token-explode
    // scan (r22, guide §1.2 "don't compute things you throw away"):
    // bigram heads (c12's w1, already aggregated and persisted) cover
    // every token position except each document's LAST, so
    // vocab = distinct(w1 set ∪ one last-token row per doc). Set-equal
    // to distinct(all tokens): positions 0..n−2 are bigram heads,
    // position n−1 is the last token; a 1-token doc's only token IS
    // its last token; an empty text tokenizes to [""] whose single
    // token is also its last. count_distinct ignores the NULL a null
    // text would contribute — exactly as explode dropped it.
    val vocab = c12.select(col("w1").as("w"))
      .unionByName(docs0.select(
        element_at(split(col("text"), " "), -1).as("w")))
      .agg(count_distinct(col("w")).as("v"))
    val model = c12
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
      .select("bg", "logp")
    val perDoc = tfb.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum("tfb").as("n_bigrams"),
        seqSum(col("bg"), col("tfb") * col("logp")).as("ll"))
      .withColumn("nll", -col("ll") / col("n_bigrams").cast("double"))
      .select("doc_id", "n_bigrams", "nll")
    val scored = graft.CacheScope.persistTracked(perDoc)
    val cuts = scored.agg(
      percentile(col("nll"), lit(1.0) / lit(3.0)).as("c_head"),
      percentile(col("nll"), lit(2.0) / lit(3.0)).as("c_mid"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= col("c_head"), "head")
          .when(col("nll") <= col("c_mid"), "middle")
          .otherwise("tail"))
      .select("doc_id", "n_bigrams", "nll", "bucket")
  }

  /** The bigram LM as a PERSISTABLE ARTIFACT (the ivfIndex/sq8Index
    * pattern): three plain DataFrames — write each to parquet, read
    * back, score — so "train once on the reference corpus, score every
    * later batch/stream against the frozen model" is a first-class
    * production path, not a re-train per query.
    *
    * `bigrams` = (bg, logp) for every observed bigram; `heads` =
    * (w1, logp1) the add-one backoff for an unseen bigram with a seen
    * first word, ln(1/(c1+V)); `vocab` = one row (v) for the fully
    * unseen case ln(1/V) — the same add-one formula at c12=0, c1=0.
    * All three derive from ONE corpus pass over bigram instances plus
    * the cheap unigram-vocabulary scan. */
  final case class LmModel(bigrams: DataFrame, heads: DataFrame,
      vocab: DataFrame)

  /** The RAW-COUNT layer beneath [[LmModel]] — the incremental
    * maintenance hook (VERDICT r15 item 5 family): `pairs` =
    * (w1, bg, c12) exact bigram counts, `words` = the distinct unigram
    * set. Counts are additive longs and the word set is a plain union,
    * so two corpora's counts MERGE exactly ([[lmMerge]]) and the
    * derived model is indistinguishable from a retrain on the union —
    * the property the logp-carrying [[LmModel]] cannot offer (v
    * changes every logp, so frozen logps cannot absorb new text).
    * Train-side flow: count each corpus increment once, merge, derive
    * ([[lmFromCounts]]) — a growing corpus never re-counts old text. */
  final case class LmCounts(pairs: DataFrame, words: DataFrame)

  /** One counting pass over a (doc_id, text) frame. */
  def lmCounts(docs0: DataFrame): LmCounts = {
    val docs = graft.operators.Skew.spreadScan(docs0)
    val inst = docs.select(
      explode(graft.functions.NGramInstances.column(
        split(col("text"), " "), 2)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val pairs = graft.CacheScope.persistTracked(
      inst.groupBy("w1", "bg").agg(count(lit(1)).as("c12")))
    // word set from the persisted pair counts + one last-token row per
    // doc — the lmScore vocab argument (set-equal to the full token
    // explode; the isNotNull drops what explode's null-pruning dropped)
    val words = pairs.select(col("w1").as("w"))
      .unionByName(docs0.select(
        element_at(split(col("text"), " "), -1).as("w")))
      .filter(col("w").isNotNull)
      .distinct()
    LmCounts(pairs, words)
  }

  /** Exact additive merge of two count sets: summed pair counts,
    * unioned word set. Associative and commutative, so increments can
    * arrive in any order and batch shape. */
  def lmMerge(a: LmCounts, b: LmCounts): LmCounts = LmCounts(
    a.pairs.unionByName(b.pairs)
      .groupBy("w1", "bg").agg(sum("c12").as("c12")),
    a.words.unionByName(b.words).distinct())

  /** Fold a [[graft.streaming.DocStream.lmCountsSink]] delta
    * directory into one [[LmCounts]] — the lmMerge expression over
    * every batch_id=N subtree at once (one partial-agg shuffle, not a
    * per-delta loop). Exact: summed longs / unioned distinct words
    * are order-free, so the result equals any pairwise merge order
    * and lmFromCounts over it is bit-equal to lmTrain over every doc
    * the stream absorbed. */
  def lmCountsFromDeltas(spark: SparkSession, dir: String): LmCounts =
    LmCounts(
      spark.read.parquet(s"$dir/pairs")
        .groupBy("w1", "bg").agg(sum("c12").as("c12")),
      spark.read.parquet(s"$dir/words").select("w").distinct())

  /** Derive the scoring artifact from counts — the identical logp
    * expression lmTrain always used, so lmFromCounts(lmCounts(docs))
    * IS lmTrain(docs), and lmFromCounts(lmMerge(A, B)) is bit-equal to
    * lmTrain(A ∪ B) (LmStreamDomainCapSpec pins it: same counts in,
    * same doubles out). */
  def lmFromCounts(c: LmCounts): LmModel = {
    val vocab = c.words.agg(count(lit(1)).as("v"))
    val heads0 = c.pairs.groupBy("w1").agg(sum("c12").as("c1"))
    val bigrams = c.pairs.join(heads0, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
      .select("bg", "logp")
    val heads = heads0.crossJoin(broadcast(vocab))
      .withColumn("logp1", log(lit(1.0) / (col("c1") + col("v"))))
      .select("w1", "logp1")
    LmModel(bigrams, heads, vocab)
  }

  /** Train the add-one bigram model of [[lmScore]] as an [[LmModel]]
    * artifact. Counting COUNT-over-instances here equals
    * SUM-over-per-doc-tf there, and logp is the identical expression,
    * so scoring a corpus against its own trained model reproduces
    * lmScore's nll bit-for-bit (spec-pinned). For incremental
    * maintenance keep the [[LmCounts]] layer instead of the derived
    * model. */
  def lmTrain(docs: DataFrame): LmModel = lmFromCounts(lmCounts(docs))

  /** Score any (doc_id, text) frame against a FROZEN [[LmModel]]:
    * per-doc (doc_id, n_bigrams, nll) with full add-one backoff for
    * bigrams/heads the model never saw. The model join keys on the
    * bigram (shuffle hash join at model scale; for a micro-batch
    * against a persisted model the batch side is the small one); the
    * head-backoff join and the 1-row vocab are broadcast-friendly.
    * Deterministic bigram-sorted fold, the lmScore discipline. Docs
    * with fewer than two tokens have no bigrams and are absent from
    * the output — same contract as lmScore. */
  def scoreWithLm(docs: DataFrame, lm: LmModel): DataFrame = {
    val tfb = docs.select(col("doc_id"),
        explode(graft.functions.NGramInstances.column(
          split(col("text"), " "), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tfb"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    tfb.join(lm.bigrams, Seq("bg"), "left")
      .join(lm.heads, Seq("w1"), "left")
      .crossJoin(broadcast(lm.vocab))
      .withColumn("lp",
        coalesce(col("logp"), col("logp1"), log(lit(1.0) / col("v"))))
      .groupBy("doc_id")
      .agg(sum("tfb").as("n_bigrams"),
        seqSum(col("bg"), col("tfb") * col("lp")).as("ll"))
      .withColumn("nll", -col("ll") / col("n_bigrams").cast("double"))
      .select("doc_id", "n_bigrams", "nll")
  }

  /** #60 DSIR importance resampling (Xie et al. 2023: select raw
    * documents whose hashed n-gram feature distribution looks like a
    * target domain). Features are unigrams hashed into 256 buckets by
    * the first md5 hex byte (md5 is the repo's cross-engine hash
    * family); the target here is the corpus's English slice. Per-doc
    * importance weight = Σ_b tf_b · λ_b with
    * λ_b = ln((tc_b+1)/(tt+256)) − ln((rc_b+1)/(rt+256)), ranked per
    * token (weight/n_tokens) so length doesn't dominate; output is
    * the top-50 selection.
    *
    * Scale shape (100 TB): ONE pass builds the (doc, bucket, tf)
    * index (partial-agg shuffle); target/raw bucket marginals reduce
    * from the index; λ is a ≤256-row broadcast, so scoring is
    * map-side over the index and the top-k is TakeOrdered (distributed
    * heap, no global sort). */
  def docDsir(s: SparkSession, d: String): DataFrame =
    dsirSelect(Tables.documents(s, d), col("lang") === "en", 50)

  /** Library form of #60: top-`k` of `docs` by importance weight
    * toward the `isTarget` slice. */
  def dsirSelect(docs0: DataFrame, isTarget: Column, k: Int): DataFrame = {
    // spread before the per-token md5 bucket kernel (guide §2.5)
    val docs = graft.operators.Skew.spreadScan(docs0)
    val tok = graft.CacheScope.persistTracked(
      docs.select(col("doc_id"), isTarget.as("is_t"),
          explode(split(col("text"), " ")).as("w"))
        .withColumn("b", substring(md5(col("w")), 1, 2))
        .groupBy("doc_id", "is_t", "b").agg(count(lit(1)).as("tf")))
    // raw and target marginals in ONE pass over the index (guide §2.3:
    // the conditional sum replaces a second scan + shuffle + left join
    // + null-fill; exact — long sums), and the totals reduce from the
    // ≤256-row marginal frame instead of a third index pass
    val marg = graft.CacheScope.persistTracked(
      tok.groupBy("b").agg(sum("tf").as("rc"),
        sum(when(col("is_t"), col("tf")).otherwise(lit(0L))).as("tc")))
    val tot = marg.agg(sum("rc").as("rt"), sum("tc").as("tt"))
    val lam = marg
      .crossJoin(broadcast(tot))
      .withColumn("lam",
        log((col("tc") + lit(1.0)) / (col("tt") + lit(256.0))) -
          log((col("rc") + lit(1.0)) / (col("rt") + lit(256.0))))
      .select("b", "lam")
    tok.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        seqSum(col("b"), col("tf") * col("lam")).as("weight"))
      .withColumn("wpt", col("weight") / col("n_tokens").cast("double"))
      .orderBy(col("wpt").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "n_tokens", "weight", "wpt")
  }

  /** #61 Per-domain frequency cap (domain balancing): keep at most
    * `cap` documents per source, preferring the longest (n_chars desc,
    * doc_id tie-break — the canonical-selection ordering), and account
    * kept/dropped per source. The standard web-corpus guard against a
    * single domain flooding the training mix.
    *
    * Scale shape (100 TB): one shuffle on source; the rank window
    * sorts only (source, n_chars, doc_id) — the text never moves. A
    * heavy-hitter domain concentrates its rank sort on one partition;
    * the production guard is the standard two-phase form (count per
    * domain first, rank only domains whose count exceeds the cap —
    * everyone else is kept wholesale), which this pinned corpus
    * doesn't need. */
  def docDomainCap(s: SparkSession, d: String): DataFrame =
    domainCap(Tables.documents(s, d), 15)

  /** Library form of #61 over any (doc_id, source, n_chars) frame. */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.select("doc_id", "source", "n_chars")
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > cap, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") <= cap, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
  }

  /** #63 Learned quality classifier (the fastText-filter pattern of
    * CCNet/LLaMA data work: train a cheap linear model on weak labels,
    * filter the corpus with it — here the teacher is the in-engine
    * Gopher rule gate, so the whole train-then-filter loop runs inside
    * the engine with zero external artifacts): a nearest-class-mean
    * (Rocchio) linear model over 256 md5-bucketed unigram frequencies
    * (the DSIR feature family), L1-normalized per doc — w = μ₊ − μ₋,
    * threshold at the midpoint of the class-mean scores. Closed-form
    * in two aggregation passes, genuinely discriminative on this
    * corpus (spec-pinned above the majority-class baseline; a hinge
    * subgradient refinement epoch was measured and bought nothing at
    * this feature scale — git history has the experiment). Output:
    * per-source teacher/prediction agreement accounting.
    *
    * Cross-engine exactness: class means are doc_id-ordered sequential
    * folds over the bucket's rows (the other class's rows fold an
    * explicit 0.0 — an exact no-op, since every x ≥ 0 keeps partials
    * non-negative); scores and the threshold are bucket-ordered folds —
    * the kmeans/LM fold discipline, no exp/log anywhere, so every
    * prediction replays bit-for-bit in DuckDB.
    *
    * Scale shape (100 TB): ONE text scan builds the (doc, bucket, tf)
    * index; the model is a ≤256-row broadcast everywhere it appears;
    * the only corpus-keyed shuffles are the index partial-agg and the
    * per-doc scoring rollup. The ordered folds exist for oracle
    * replay — the production swap is plain sum() per bucket
    * (order-free float addition costs last-ulp determinism only). */
  def docQualityClassifier(s: SparkSession, d: String): DataFrame =
    qualityClassifier(Tables.documents(s, d))

  /** The Rocchio quality model as a PERSISTABLE ARTIFACT (the
    * LmModel/ivfIndex pattern): `weights` = (b, wv, mup, mum) — the
    * ≤256-row bucket weights with the class means they derive from —
    * and `bias` = one row (bv). Train once on a labeled reference
    * corpus, write both to parquet, score every later batch/stream
    * against the frozen model. */
  final case class QualityModel(weights: DataFrame, bias: DataFrame)

  /** The (doc_id, b, x) L1-normalized hashed-unigram features shared
    * by training and scoring. */
  private def qcFeatures(docs0: DataFrame): DataFrame = {
    // spread before the per-token md5 bucket kernel (guide §2.5)
    val docs = graft.operators.Skew.spreadScan(docs0)
    // n_tok as a window over the SAME doc_id key the rows already carry
    // (guide §2.4: two operations keyed the same way share one
    // exchange) — replaces a second aggregate + self-join. Skew-safe by
    // construction: a window group is one doc's bucket rows, ≤256 of
    // them (b is a 2-hex-char bucket). Exact: long sums.
    docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .withColumn("b", substring(md5(col("w")), 1, 2))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      .withColumn("n_tok", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select(col("doc_id"), col("b"),
        (col("tf").cast("double") / col("n_tok").cast("double")).as("x"))
  }

  /** (doc_id, y = ±1) Gopher-gate teacher labels. */
  private def qcLabels(docs: DataFrame): DataFrame =
    graft.queries.Docs.gopherMetrics(graft.operators.Skew.spreadScan(docs))
      .select(col("doc_id"),
        when(col("keep"), 1.0).otherwise(-1.0).as("y"))

  /** Train the #63 model: w = μ₊ − μ₋ over the bucket features,
    * midpoint-threshold bias, teacher = the Gopher rule gate. */
  def trainQualityModel(docs: DataFrame): QualityModel =
    trainFromParts(qcFeatures(docs),
      graft.CacheScope.persistTracked(qcLabels(docs)))

  private def trainFromParts(feats: DataFrame,
      labels: DataFrame): QualityModel =
    qualityFromCounts(qcCountsFromParts(feats, labels))

  /** Exact incremental-maintenance layer for the Rocchio model (the
    * [[LmCounts]] pattern: keep the absorbable state, derive the
    * frozen scoring artifact from it). `sums` = (b, sp, sm) — the
    * per-bucket doc_id-ordered fold partials of each class's feature
    * mass (≤256 rows, broadcastable anywhere); `stats` = ONE row
    * (npos, nneg, max_doc_id). The derived [[QualityModel]] cannot
    * absorb new text (every mean shifts), but this layer can:
    * [[qcAppend]] folds an increment into `sums` and is bit-equal to
    * a retrain on the union (QualityModelSpec pins it).
    *
    * Unlike [[lmMerge]]'s longs, `sp`/`sm` are float folds, so the
    * absorb is ORDERED, not commutative: appended batches must carry
    * doc_ids above the watermark (`max_doc_id`) — the natural shape
    * of a growing corpus — and [[qcAppend]] enforces it. */
  final case class QualityCounts(sums: DataFrame, stats: DataFrame)

  /** One counting pass over a (doc_id, text) frame. */
  def qcCounts(docs: DataFrame): QualityCounts =
    qcCountsFromParts(qcFeatures(docs),
      graft.CacheScope.persistTracked(qcLabels(docs)))

  private def qcCountsFromParts(feats: DataFrame,
      labels: DataFrame): QualityCounts = {
    val fx = graft.CacheScope.persistTracked(
      feats.join(labels, "doc_id"))
    // class mass per bucket: fold over the bucket's rows (the other
    // class's rows fold an exact-no-op 0.0)
    val sums = fx.groupBy("b")
      .agg(
        seqSum(col("doc_id"),
          when(col("y") > 0, col("x")).otherwise(0.0)).as("sp"),
        seqSum(col("doc_id"),
          when(col("y") < 0, col("x")).otherwise(0.0)).as("sm"))
    val stats = labels.agg(
      sum(when(col("y") > 0, 1.0).otherwise(0.0)).as("npos"),
      sum(when(col("y") < 0, 1.0).otherwise(0.0)).as("nneg"),
      max(col("doc_id")).as("max_doc_id"))
    QualityCounts(sums, stats)
  }

  /** Fold a new batch into frozen [[QualityCounts]] — old text is
    * never re-read. Exactness: `sp[b]` is a LEFT fold over the
    * bucket's doc_id-sorted values, so when every new doc_id sorts
    * after the old watermark, retrain-on-union's fold factors as
    * fold(fold(old), new) — and seeding the new fold with the stored
    * partial (a synthetic row keyed below every real doc_id) replays
    * exactly that. 0.0 + sp == sp bit-for-bit (partials are sums of
    * non-negative terms from +0.0 — never -0.0, never NaN), so the
    * seed row is an exact continuation, not an approximation.
    * Class counts and the watermark are exact-addition scalars.
    *
    * Scale shape (100 TB): the counting pass touches ONLY the
    * increment; the absorbed state is ≤256 rows + 1 row regardless of
    * corpus size. An empty increment returns the counts unchanged. */
  def qcAppend(c: QualityCounts, newDocs: DataFrame): QualityCounts = {
    val labels = graft.CacheScope.persistTracked(qcLabels(newDocs))
    // watermark gate (1-row artifact-meta reads, the loadIvfPqIndex
    // convention): the fold-continuation is exact ONLY above it
    val bounds = labels.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi")).collect()(0)
    if (bounds.isNullAt(0)) return c
    val prev = c.stats.select(col("max_doc_id")).collect()(0)
    require(prev.isNullAt(0) || bounds.getLong(0) > prev.getLong(0),
      s"qcAppend: new batch min doc_id ${bounds.getLong(0)} does not " +
        s"sort after the absorbed watermark ${prev.get(0)} — the " +
        "ordered fold cannot absorb it exactly; retrain instead")
    val fx = graft.CacheScope.persistTracked(
      qcFeatures(newDocs).join(labels, "doc_id"))
    val seeds = c.sums.select(col("b"),
      lit(Long.MinValue).as("k"), col("sp").as("xp"), col("sm").as("xm"))
    val incr = fx.select(col("b"), col("doc_id").as("k"),
      when(col("y") > 0, col("x")).otherwise(0.0).as("xp"),
      when(col("y") < 0, col("x")).otherwise(0.0).as("xm"))
    val sums = seeds.unionByName(incr).groupBy("b")
      .agg(seqSum(col("k"), col("xp")).as("sp"),
        seqSum(col("k"), col("xm")).as("sm"))
    val dstats = labels.agg(
      sum(when(col("y") > 0, 1.0).otherwise(0.0)).as("dnp"),
      sum(when(col("y") < 0, 1.0).otherwise(0.0)).as("dnn"),
      max(col("doc_id")).as("dmax"))
    val stats = c.stats.crossJoin(broadcast(dstats))
      .select((col("npos") + col("dnp")).as("npos"),
        (col("nneg") + col("dnn")).as("nneg"),
        greatest(col("max_doc_id"), col("dmax")).as("max_doc_id"))
    QualityCounts(sums, stats)
  }

  /** Derive the frozen scoring artifact from counts — the identical
    * mean/bias expressions the train path always used, so
    * qualityFromCounts(qcCounts(docs)) IS trainQualityModel(docs),
    * and qualityFromCounts(qcAppend(qcCounts(A), B)) is bit-equal to
    * trainQualityModel(A ∪ B) under the watermark precondition. */
  def qualityFromCounts(c: QualityCounts): QualityModel = {
    val weights = c.sums
      .crossJoin(broadcast(c.stats.select(col("npos"), col("nneg"))))
      .select(col("b"), (col("sp") / col("npos")).as("mup"),
        (col("sm") / col("nneg")).as("mum"))
      .withColumn("wv", col("mup") - col("mum"))
    val bias = weights.agg((lit(-0.5) *
      (seqSum(col("b"), col("wv") * col("mup")) +
        seqSum(col("b"), col("wv") * col("mum")))).as("bv"))
    QualityModel(weights, bias)
  }

  /** Persist / reload [[QualityCounts]] (parquet artifact, the
    * saveQualityModel convention plus a fail-fast stats check). */
  def saveQualityCounts(c: QualityCounts, dir: String): Unit = {
    c.sums.write.mode("overwrite").parquet(s"$dir/sums")
    c.stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  def loadQualityCounts(spark: SparkSession,
      dir: String): QualityCounts = {
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.count() == 1,
      s"loadQualityCounts: $dir/stats must hold exactly one row")
    QualityCounts(spark.read.parquet(s"$dir/sums"), stats)
  }

  /** Score any (doc_id, text) frame against a FROZEN [[QualityModel]]:
    * per-doc (doc_id, score, pred) with score = Σ_b w_b·x_b + bias
    * (bucket-ordered fold — scoring a corpus against its own trained
    * model reproduces [[qualityClassifier]]'s predictions bit-for-bit,
    * spec-pinned). The model is a ≤256-row broadcast; buckets the
    * model never saw carry weight 0.0 via the LEFT join (an exact
    * fold no-op), so a doc whose tokens all hash to unseen buckets
    * still scores (= bias) instead of silently vanishing from a
    * scoring/admission pipeline. */
  def scoreWithQualityModel(docs: DataFrame,
      model: QualityModel): DataFrame =
    scoreFromFeatures(qcFeatures(docs), model)

  private def scoreFromFeatures(feats: DataFrame,
      model: QualityModel): DataFrame =
    feats
      .join(broadcast(model.weights.select("b", "wv")), Seq("b"), "left")
      .na.fill(0.0, Seq("wv"))
      .groupBy("doc_id")
      .agg(seqSum(col("b"), col("wv") * col("x")).as("dotwx"))
      .crossJoin(broadcast(model.bias))
      .select(col("doc_id"), (col("dotwx") + col("bv")).as("score"),
        ((col("dotwx") + col("bv")) >= 0.0).as("pred"))

  /** Persist / reload a [[QualityModel]] (parquet artifact). */
  def saveQualityModel(model: QualityModel, dir: String): Unit = {
    model.weights.write.mode("overwrite").parquet(s"$dir/weights")
    model.bias.write.mode("overwrite").parquet(s"$dir/bias")
  }

  def loadQualityModel(spark: SparkSession, dir: String): QualityModel =
    QualityModel(spark.read.parquet(s"$dir/weights"),
      spark.read.parquet(s"$dir/bias"))

  /** Library form of #63 over any (doc_id, source, text) frame:
    * self-train, self-score, roll up teacher/prediction agreement per
    * source. Features and labels are each computed ONCE (persisted)
    * and shared by the train and score passes. */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    val labels = graft.CacheScope.persistTracked(qcLabels(docs))
    val feats = graft.CacheScope.persistTracked(qcFeatures(docs))
    val model = trainFromParts(feats, labels)
    scoreFromFeatures(feats, model)
      .join(labels, "doc_id")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") > 0, 1L).otherwise(0L)).as("n_teacher_keep"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred_keep"),
        sum(when((col("y") > 0) === col("pred"), 1L).otherwise(0L))
          .as("n_agree"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_lm_score" -> (docLmScore _),
    "doc_dsir" -> (docDsir _),
    "doc_quality_classifier" -> (docQualityClassifier _),
    "doc_domain_cap" -> (docDomainCap _))

  val oracles: Map[String, String] = Map(
    "doc_lm_score" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |big AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM ws),
        |tfb AS MATERIALIZED (SELECT doc_id, bg, COUNT(*) AS tfb FROM big GROUP BY 1, 2),
        |c12 AS (SELECT bg, SUM(tfb) AS c12 FROM tfb GROUP BY 1),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(tfb) AS c1
        |  FROM tfb GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT w) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) t),
        |model AS (
        |  SELECT bg, ln((c12 + 1.0) / (c1 + v)) AS logp
        |  FROM c12 JOIN c1 ON string_split(c12.bg, ' ')[1] = c1.w1
        |  CROSS JOIN voc),
        |perdoc AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(tfb) AS BIGINT) AS n_bigrams,
        |    -list_sum(list(tfb * logp ORDER BY bg)) / CAST(SUM(tfb) AS BIGINT) AS nll
        |  FROM tfb JOIN model USING (bg) GROUP BY 1),
        |cuts AS (SELECT
        |  quantile_cont(nll, CAST(1 AS DOUBLE) / 3) AS c_head,
        |  quantile_cont(nll, CAST(2 AS DOUBLE) / 3) AS c_mid FROM perdoc)
        |SELECT doc_id, n_bigrams, nll,
        |  CASE WHEN nll <= c_head THEN 'head'
        |       WHEN nll <= c_mid THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM perdoc CROSS JOIN cuts""".stripMargin,
    "doc_dsir" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, is_t, substr(md5(w), 1, 2) AS b, COUNT(*) AS tf
        |  FROM (SELECT doc_id, lang = 'en' AS is_t,
        |          unnest(string_split(text, ' ')) AS w FROM documents) t
        |  GROUP BY 1, 2, 3),
        |raw AS (SELECT b, SUM(tf) AS rc FROM tok GROUP BY 1),
        |tgt AS (SELECT b, SUM(tf) AS tc FROM tok WHERE is_t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS rt,
        |  CAST(SUM(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS tt FROM tok),
        |lam AS (
        |  SELECT raw.b,
        |    ln((COALESCE(tc, 0) + 1.0) / (tt + 256.0)) -
        |    ln((rc + 1.0) / (rt + 256.0)) AS lam
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
        |perdoc AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    list_sum(list(tf * lam ORDER BY b)) AS weight
        |  FROM tok JOIN lam USING (b) GROUP BY 1)
        |SELECT doc_id, n_tokens, weight, weight / n_tokens AS wpt
        |FROM perdoc
        |ORDER BY wpt DESC, doc_id ASC LIMIT 50""".stripMargin,
    // the label CTE repeats the doc_gopher keep predicate verbatim
    // (hash-green on its own row); every weight/score is the same
    // ordered-fold replay discipline as doc_lm_score/emb_kmeans
    "doc_quality_classifier" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    (n_words >= 50 AND n_words <= 100000
        |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |      AND symbol_ratio < 0.1 AND bullet_frac < 0.9
        |      AND ellipsis_frac < 0.3 AND alpha_frac > 0.8
        |      AND stop_hits >= 2) AS keep
        |  FROM (
        |    SELECT doc_id,
        |      len(string_split(text, ' ')) AS n_words,
        |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS mean_word_len,
        |      CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS symbol_ratio,
        |      CAST(len(list_filter(string_split(text, chr(10)),
        |          l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
        |        / len(string_split(text, chr(10))) AS bullet_frac,
        |      CAST(len(list_filter(string_split(text, chr(10)),
        |          l -> regexp_matches(l, '\.\.\.$'))) AS DOUBLE)
        |        / len(string_split(text, chr(10))) AS ellipsis_frac,
        |      CAST(len(list_filter(string_split(text, ' '),
        |          w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS alpha_frac,
        |      (CASE WHEN regexp_matches(text, '\bthe\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(text, '\ba\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(text, '\bof\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(text, '\band\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(text, '\bis\b') THEN 1 ELSE 0 END)
        |        AS stop_hits
        |    FROM documents) t),
        |lab AS (SELECT doc_id, CASE WHEN keep THEN 1.0 ELSE -1.0 END AS y
        |  FROM g),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f0 AS (SELECT doc_id, substr(md5(w), 1, 2) AS b, COUNT(*) AS tf
        |  FROM tok GROUP BY 1, 2),
        |nt AS (SELECT doc_id, SUM(tf) AS n_tok FROM f0 GROUP BY 1),
        |fx AS MATERIALIZED (SELECT f0.doc_id, b, y,
        |    CAST(tf AS DOUBLE) / CAST(n_tok AS DOUBLE) AS x
        |  FROM f0 JOIN nt USING (doc_id) JOIN lab USING (doc_id)),
        |np AS (SELECT SUM(CASE WHEN y > 0 THEN 1.0 ELSE 0.0 END) AS npos,
        |  SUM(CASE WHEN y < 0 THEN 1.0 ELSE 0.0 END) AS nneg FROM lab),
        |mus AS (SELECT b, npos, nneg,
        |    SUM(CASE WHEN y > 0 THEN x ELSE 0.0 END) OVER (
        |      PARTITION BY b ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS csp,
        |    SUM(CASE WHEN y < 0 THEN x ELSE 0.0 END) OVER (
        |      PARTITION BY b ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS csm,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY doc_id DESC) AS rr
        |  FROM fx CROSS JOIN np),
        |mu AS (SELECT b, csp / npos AS mup, csm / nneg AS mum
        |  FROM mus WHERE rr = 1),
        |w1 AS (SELECT b, mup - mum AS wv, mup, mum FROM mu),
        |bt AS (SELECT -0.5 * (list_sum(list(wv * mup ORDER BY b))
        |  + list_sum(list(wv * mum ORDER BY b))) AS bv FROM w1),
        |scw AS (SELECT doc_id, y,
        |    SUM(wv * x) OVER (PARTITION BY doc_id ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS cdx,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b DESC) AS rr
        |  FROM fx JOIN w1 USING (b)),
        |sc AS (SELECT doc_id, y, cdx AS dotwx FROM scw WHERE rr = 1)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_teacher_keep,
        |  CAST(SUM(CASE WHEN dotwx + bv >= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pred_keep,
        |  CAST(SUM(CASE WHEN (y > 0) = (dotwx + bv >= 0.0) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree
        |FROM sc CROSS JOIN bt JOIN documents USING (doc_id)
        |GROUP BY source""".stripMargin,
    "doc_domain_cap" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rn > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars
        |FROM (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) t
        |GROUP BY 1""".stripMargin)
}
