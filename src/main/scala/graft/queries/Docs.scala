package graft.queries

import graft.{QueryMemo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** LLM-training-data pipeline operators over the documents table
  * (SURVEY.md §2c): exact + near dedup, fingerprinting, language ID,
  * quality scoring, token counting.
  *
  * Scale notes (100 TB corpus):
  * - Exact dedup shuffles a 128-bit fingerprint, never the raw text.
  * - Shingling is a pure per-row expression (codegen map-side); the
  *   near-dup self-join keys on the shingle string, so each join bucket
  *   is one shingle's posting list — no all-pairs blowup.
  * - MinHash/LSH shuffles (band_idx, band_hash) pairs only; candidate
  *   verification is in-bucket.
  */
object Docs {

  // Shingling and the three near-dup miners live in the parameterized
  // graft.operators.TextDedup (shingle size / signature width / banding
  // are caller knobs); these queries pin the oracle-verified defaults.
  // Shingling is the native codegen'd ShingleNGrams expression — the
  // composable HOF formulation re-evaluates split() inside every lambda
  // call after CollapseProject inlines it (O(words²) per doc; 6.6s vs
  // 0.9s at sf0.1).

  /** #36 Exact dedup, keep-first: the corpus unioned with a simulated
    * re-delivery of itself, deduped on md5(text) via row_number=1. The
    * shuffle key is the fingerprint, not the document body. */
  def docDedupExact(s: SparkSession, d: String): DataFrame = {
    // fingerprint map-side and DROP the text before the shuffle — the
    // window only needs (fp, doc_id, output cols), so the corpus body
    // never crosses the wire (at 100 TB that is the whole game)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("fp"))
    val redelivered = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    val w = Window.partitionBy("fp").orderBy("doc_id")
    docs.unionByName(redelivered)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
  }

  /** #37 N-gram Jaccard near-dup pairs: candidates from the shared-shingle
    * self-join (each bucket = one shingle's posting list), exact Jaccard
    * on distinct-shingle counts, τ = 0.5. The operator prunes
    * size-incompatible pairs at the join (jaccard ≥ τ forces
    * |A| ≥ τ|B| ∧ |B| ≥ τ|A|) with zero effect on the result, and
    * registers its posting-list persist with CacheScope. */
  def docNgramJaccard(s: SparkSession, d: String): DataFrame =
    minedPairs(s, d)

  /** The mined Jaccard pair graph, memoized per (session, corpus): four
    * products consume it (#37 the pair list, #37b victim removal, #37c
    * clusters, #37d canonical selection), and a production pipeline
    * mines ONCE per corpus. The memo holds only (doc_a, doc_b, sim)
    * rows — never documents (VERDICT r9 #5). Cross-SESSION mine-once:
    * when `graft.dedup.pairGraphPath` is set, the graph is read from
    * that TextDedup.writePairGraph parquet artifact instead of mined —
    * every downstream product works unchanged off the prebuilt graph
    * (PairGraphSpec pins the equivalence). */
  private def minedPairs(s: SparkSession, d: String): DataFrame = {
    // the artifact path is part of the memo key: re-pointing
    // graft.dedup.pairGraphPath mid-session must never serve the graph
    // cached under the previous source
    val src = s.conf.getOption("graft.dedup.pairGraphPath")
    QueryMemo.cached(s,
      s"jaccard_pairs:n=3:tau=0.5:$d:${src.getOrElse("mined")}")(
      src match {
        case Some(path) => graft.operators.TextDedup.readPairGraph(
          s, path, expectN = 3, expectTau = 0.5)
        case None => graft.operators.TextDedup.ngramJaccardPairs(
          Tables.documents(s, d), n = 3, tau = 0.5)
      })
  }

  /** #56 Benchmark decontamination (GPT-3 appendix-C / Lee et al. 2022
    * §6.2 n-gram collision procedure): training docs sharing ≥5
    * distinct 5-gram shingles with ANY benchmark doc, with the
    * (train, bench, n_shared) collision evidence. The benchmark
    * stand-in is the deterministic doc_id%10 slice of the corpus (a
    * real pipeline reads the eval suites there); train = the rest.
    * Cross-corpus posting-list equi join — text never shuffles, the
    * bench side is broadcast-sized at any real scale. */
  def docDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.operators.TextDedup.crossCorpusOverlap(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      n = 5, minShared = 5L)
  }

  /** #56c FUZZY benchmark decontamination (r17): MinHash-estimated
    * shingle Jaccard between train and bench docs — the
    * paraphrased-contamination net behind [[docDecontaminate]]'s
    * exact 5-gram collisions. Same bench stand-in (the doc_id%10
    * slice), md5 hash family so the whole chain — signatures, band
    * buckets, the CROSS-corpus candidate join, the agree/16 estimator
    * — replays hash-exact in DuckDB (k = 16 a power of two ⇒ the
    * estimate is an exact binary fraction, the minhashMd5Pairs rule);
    * production swaps md5Hash = false for seeded murmur3, the
    * family's documented §8 trade. One signature build covers both
    * corpora: one shingle pass, and the bench side of the band join
    * is the tiny side at any real scale. */
  def docDecontaminateFuzzy(s: SparkSession, d: String): DataFrame =
    graft.operators.TextDedup.crossCorpusFuzzy(
      Tables.documents(s, d).select("doc_id", "text"),
      isBench = pmod(col("doc_id"), lit(10)) === 0,
      n = 3, k = 16, bands = 4, tau = 0.5, md5Hash = true)

  /** #38 MinHash + LSH near-dup (rows-only: DuckDB cannot reproduce
    * Spark's Murmur3 hash family). k=16 permutations via seeded murmur3
    * (hash(seed, shingle) — codegen'd), 4 bands × 4 rows; band-bucket
    * self-join yields candidates; similarity is then ESTIMATED from
    * signature agreement (matching minhashes / k — the unbiased MinHash
    * Jaccard estimator), so verification touches only the k-wide
    * signature table, never the posting lists. At scale the only
    * corpus-sized shuffles are the signature aggregate and the
    * (band_idx, band_hash, doc_id) band table. */
  def docMinhashLsh(s: SparkSession, d: String): DataFrame =
    graft.operators.TextDedup.minhashLshPairs(
      Tables.documents(s, d), n = 3, k = 16, bands = 4, tau = 0.5)

  /** #37b Near-dup REMOVAL — the end product of detection: the standard
    * greedy pass drops the later document of every near-dup pair (pair
    * lists from shared-shingle Jaccard ≥ 0.5), via anti join on the
    * deduplicated victim set. */
  def docDedupNear(s: SparkSession, d: String): DataFrame = {
    val victims = docNgramJaccard(s, d).select("doc_b").distinct()
    Tables.documents(s, d)
      .join(victims, col("doc_id") === col("doc_b"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
  }

  /** #37c Near-dup CLUSTERS — the step after pairwise detection: the
    * Jaccard pair graph's connected components (alternating large-star/
    * small-star, operators/ConnectedComponents.scala) assign every
    * clustered doc a canonical cluster_id = the component's minimum
    * doc_id. Pairwise victim-dropping (#37b) over-deletes transitive
    * chains; cluster assignment is what "keep exactly one per dup
    * group" actually needs. Oracle: DuckDB recursive CTE reachability
    * over the identical pair list. */
  def docDedupClusters(s: SparkSession, d: String): DataFrame =
    clusterAssignment(s, d)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))

  /** The (doc_id, cluster_id) component map, memoized per (session,
    * corpus): #37c and #37d both consume it, and a production pipeline
    * mines the pair graph and solves components ONCE per corpus, then
    * derives every downstream product — so the miner+CC cost is paid
    * once per session, not once per query (VERDICT r9 #5). The memo
    * stores only id pairs; documents never enter it. */
  private def clusterAssignment(s: SparkSession, d: String): DataFrame =
    // same source-keying as minedPairs: the component map derived from
    // one pair graph must not survive a mid-session artifact re-point
    QueryMemo.cached(s, s"dedup_cluster_map:n=3:tau=0.5:$d:" +
        s.conf.getOption("graft.dedup.pairGraphPath").getOrElse("mined")) {
      val pairs = minedPairs(s, d)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      graft.operators.ConnectedComponents.assign(pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    }

  /** #37d Canonical-doc selection — the end product of #37c: keep
    * exactly the cluster minimum of every dup group (transitive-safe,
    * unlike greedy pair-dropping) plus every unclustered doc. The
    * victim set is clustered docs that are NOT their cluster's minimum
    * — an anti join, text never shuffles. */
  def docDedupCanon(s: SparkSession, d: String): DataFrame = {
    // victims need only the memoized component map — not the
    // cluster_size window #37c adds on top of it
    val victims = clusterAssignment(s, d)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    Tables.documents(s, d)
      .join(victims, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
  }

  /** #37e Duplicate-span detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": memorization comes
    * from repeated SUBSTRINGS, which whole-doc near-dedup misses): long
    * word n-grams (n=8) occurring in ≥ 2 distinct docs, with occurrence
    * and doc counts. At 100 TB this is the same posting-list shape as
    * the Jaccard miner: shingle → (hash-grouped) counts; only 8-gram
    * strings and counts shuffle, never documents; the HAVING prunes
    * map-side via partial aggregation. */
  def docDupSpans(s: SparkSession, d: String): DataFrame = {
    val spans = graft.operators.Skew.spreadScan(Tables.documents(s, d))
      .select(col("doc_id"), explode(graft.functions.ShingleNGrams.column(
        split(col("text"), " "), 8)).as("span"))
    // ShingleNGrams is distinct-per-doc, so count(*) IS the doc count
    spans
      .groupBy("span")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
  }

  /** #52d Duplicate-span REMOVAL (the excision step Lee et al. 2022
    * actually apply — detection alone is #52c): every duplicated
    * 8-gram span keeps exactly its canonical (first by (doc_id, pos))
    * occurrence corpus-wide; covered words of non-canonical
    * occurrences are excised unless a canonical occurrence protects
    * them. Per-doc accounting + the excised text itself, with
    * n_words = n_kept + n_removed (token conservation) per row. */
  def docDedupSpansRemove(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.removeDupSpans(
      Tables.documents(s, d).select("doc_id", "text"), 8)

  /** #56d Span-level benchmark decontamination
    * ([[graft.operators.Curation.decontaminateSpans]] — the EXCISION
    * form of Lee et al. 2022 §6.2: [[docDecontaminate]] flags whole
    * train docs, this cuts the leaked 8-gram spans out of the train
    * text and leaves the benchmark untouched). Same bench stand-in as
    * the rest of the decontamination family (the doc_id%10 slice).
    * Only span strings and (doc_id, idx) covers shuffle — the bench
    * span set is broadcast-sized at any real scale. */
  def docDecontaminateSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    graft.operators.Curation.decontaminateSpans(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), n = 8)
  }

  /** #39 SimHash near-dup (rows-only: Spark-side hash family): the
    * codegen'd SimHash64 Catalyst expression gives a 64-bit signature per
    * doc; candidates pair on equal 8-bit bands (pigeonhole guarantees any
    * pair within Hamming ≤ 7 shares a band), then verified with
    * bit_count(xor) ≤ 7. At 100 TB only (band_idx, band, doc_id, sig)
    * shuffles — never text. */
  def docSimhash(s: SparkSession, d: String): DataFrame =
    // signature over 3-gram shingles (word unigrams from a small
    // vocabulary are weakly discriminating; shingles are doc-specific);
    // the operator applies the Hamming filter BEFORE pair-dedup —
    // bit_count is cheap codegen per candidate, distinct on correlated
    // band candidates is a full shuffle (order matters 10x)
    graft.operators.TextDedup.simhashPairs(
      Tables.documents(s, d), n = 3, bands = 8, maxHamming = 7)

  /** #38b MinHash+LSH, md5 family — the ORACLE-REPLAYABLE twin of
    * [[docMinhashLsh]]: same pipeline shape (k-wide signature per doc,
    * banded buckets, candidates from band equality, similarity estimated
    * from signature agreement), but the hash family is
    * min(md5(j || ':' || shingle)) over the LEXICOGRAPHIC order of hex
    * strings — a monotone bijection of a uniform 128-bit value, so the
    * MinHash estimator is unchanged and DuckDB reproduces every byte.
    * ~10x the per-row cost of the murmur3 production path (#38), which
    * is why it exists as a correctness twin, not a replacement: it
    * converts the rows-only #38 family into hash-matched evidence. */
  def docMinhashMd5(s: SparkSession, d: String): DataFrame =
    md5Pairs(s, d)

  /** The md5-family MinHash/LSH pair graph, memoized per session: its
    * two consumers (the #38b correctness twin and the #55b scale
    * pipeline's victim stage) must not each pay the 16-hash signature
    * build in one Verify/Bench pass. Same QueryMemo discipline as
    * [[minedPairs]]; O(pairs) rows of ids, cheap to pin.
    * k = 16 is a power of two, so agree/k is an exact binary fraction
    * — bit-identical across engines (enforced in minhashMd5Pairs). */
  private def md5Pairs(s: SparkSession, d: String): DataFrame =
    QueryMemo.cached(s, s"minhash_md5_pairs:n=3:k=16:b=4:tau=0.5:$d")(
      graft.operators.TextDedup.minhashMd5Pairs(
        Tables.documents(s, d), n = 3, k = 16, bands = 4, tau = 0.5))

  /** #39b SimHash, md5 family — the ORACLE-REPLAYABLE twin of
    * [[docSimhash]]: 64-bit fingerprint from the first 16 hex chars of
    * md5(shingle) (bit p = bit (p-1)%4 of hex digit ceil(p/4), decoded
    * with instr over the hex alphabet — both engines identical),
    * majority vote per position, fingerprints as '0'/'1' strings so no
    * engine-specific integer hashing is involved. Candidates by equal
    * 8-char bands (pigeonhole for Hamming ≤ 7), verified by counting
    * differing positions. Correctness twin for #39's rows-only status;
    * the production path stays the codegen'd SimHash64. */
  def docSimhashMd5(s: SparkSession, d: String): DataFrame = {
    val sh = graft.CacheScope.persistTracked(
      graft.operators.TextDedup.shingleArrays(Tables.documents(s, d), 3)
        .select(col("doc_id"), explode(col("shingles")).as("shingle")))
    // one ±1 column per bit, aggregated in a single groupBy — NOT an
    // explode to 64 rows per shingle (that form priced the sf0.1 bench
    // at ~20s; 64 codegen'd CASE columns over the shingle rows read
    // ~2s for the identical fingerprints). hexIdx/bitmask mirror the
    // oracle's ceil(p/4.0) / power(2,(p-1)%4) arithmetic exactly.
    // decode each hex digit ONCE (16 instr calls per shingle), then
    // read bits with an AND mask: (v & 2^b) != 0 ⟺ the oracle's
    // floor(v / 2^b) % 2 = 1 for non-negative v — 4x fewer string ops
    // on the corpus-sized stage
    val withV = sh
      .select(col("doc_id"), substring(md5(col("shingle")), 1, 16).as("h"))
      .select(col("doc_id") +: (1 to 16).map(i =>
        expr(s"instr('0123456789abcdef', substr(h, $i, 1)) - 1").as(s"v$i")): _*)
    val contribs = (1 to 64).map { p =>
      val hexIdx = (p - 1) / 4 + 1
      val mask = 1 << ((p - 1) % 4)
      expr(s"CASE WHEN (v$hexIdx & $mask) != 0 THEN 1 ELSE -1 END").as(s"c$p")
    }
    val sums = withV.select(col("doc_id") +: contribs: _*)
      .groupBy("doc_id")
      .agg(sum(col("c1")).as("s1"),
        (2 to 64).map(p => sum(col(s"c$p")).as(s"s$p")): _*)
    val fp = graft.CacheScope.persistTracked(sums.select(col("doc_id"),
      concat((1 to 64).map(p =>
        when(col(s"s$p") >= 0, lit("1")).otherwise(lit("0"))): _*).as("fp")))
    // hamming = popcount over the xor of the fingerprint halves:
    // conv(<32 '0'/'1' chars>, 2, 10) turns each half into a long, and
    // bit_count(xor) is whole-stage codegen. The halves ride along on
    // the band rows so the Hamming filter runs ON the raw band
    // collisions, BEFORE pair-dedup — same ordering lesson as the
    // production #39 path: distinct on the correlated candidate set is
    // a full shuffle of millions of pairs on a clustered corpus, while
    // post-filter distinct shuffles only the near-identical survivors.
    val bandRows = fp.select(col("doc_id"),
      expr("cast(conv(substr(fp, 1, 32), 2, 10) as bigint)").as("w1"),
      expr("cast(conv(substr(fp, 33, 32), 2, 10) as bigint)").as("w2"),
      posexplode(array((0 until 8).map(b =>
        substring(col("fp"), b * 8 + 1, 8)): _*)).as(Seq("band_idx", "bk")))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(expr("a.w1 ^ b.w1")) + bit_count(expr("a.w2 ^ b.w2")))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
  }

  /** #43 Language ID: stopword-profile heuristic — per-language stopword
    * hit counts, argmax with fixed precedence. Pure per-row regex
    * (codegen); the synthetic corpus is English-vocab so the value is the
    * deterministic confusion matrix, not linguistic accuracy. */
  def docLangid(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val en = regexp_count(t, lit("\\b(the|a|of|and|is)\\b"))
    val es = regexp_count(t, lit("\\b(el|la|los|las|es|y)\\b"))
    val de = regexp_count(t, lit("\\b(der|die|das|und|ist)\\b"))
    val fr = regexp_count(t, lit("\\b(le|les|des|et|est)\\b"))
    Tables.documents(s, d)
      .withColumn("predicted",
        when(en >= es && en >= de && en >= fr && en > 0, "en")
          .when(es >= de && es >= fr && es > 0, "es")
          .when(de >= fr && de > 0, "de")
          .when(fr > 0, "fr")
          .otherwise("unknown"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** #44 Quality scoring: length / stopword / digit / punctuation ratios
    * as exact integer counts with double division at the boundary. */
  def docQuality(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nWords = size(split(t, " "))
    val nStop = regexp_count(t, lit("\\b(the|a|of|and|is)\\b"))
    val nDigit = regexp_count(t, lit("[0-9]"))
    val nPunct = regexp_count(t, lit("[^a-zA-Z0-9 ]"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(t).as("n_chars"),
        nWords.as("n_words"),
        (length(regexp_replace(t, " ", "")).cast("double") / nWords)
          .as("avg_word_len"),
        (nStop.cast("double") / nWords).as("stopword_ratio"),
        (nDigit.cast("double") / length(t)).as("digit_ratio"),
        (nPunct.cast("double") / length(t)).as("punct_ratio"))
      .withColumn("quality_bucket",
        when(col("n_words") >= 40 && col("stopword_ratio") >= 0.02, "good")
          .when(col("n_words") >= 15, "ok")
          .otherwise("low"))
  }

  /** #45 Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs | digit runs | single non-alnum), aggregated per
    * source. */
  def docTokens(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nWs = size(split(t, " "))
    val nBpe = regexp_count(t, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
    Tables.documents(s, d)
      .select(col("source"), nWs.as("n_ws"), nBpe.as("n_bpe"))
      .groupBy("source")
      .agg(sum("n_ws").as("sum_ws_tokens"),
        sum("n_bpe").as("sum_bpe_tokens"),
        max("n_ws").as("max_ws_tokens"),
        (sum("n_ws").cast("double") / count(lit(1))).as("avg_ws_tokens"))
  }

  /** #48 PII redaction — a training-data pipeline must scrub emails /
    * long digit runs before anything ships. The synthetic corpus has no
    * PII, so a deterministic contact line is appended first and then
    * redacted; the oracle replays the identical transform, verifying the
    * redaction regexes end to end. Pure per-row regexp_replace —
    * codegen, map-side. */
  def docRedact(s: SparkSession, d: String): DataFrame = {
    val withPii = concat(col("text"), lit(" contact doc"),
      col("doc_id").cast("string"), lit("@example.com or +1555"),
      lpad(col("doc_id").cast("string"), 7, "0"))
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phonePat = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
    val redacted = regexp_replace(
      regexp_replace(withPii, emailPat, "<EMAIL>"), phonePat, "<PHONE>")
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_count(withPii, lit(emailPat)).as("n_emails"),
        regexp_count(withPii, lit(phonePat)).as("n_phones"),
        length(withPii).as("len_raw"),
        length(redacted).as("len_redacted"),
        substring(redacted, -30, 30).as("tail"))
  }

  /** #50 Repetition / boilerplate filtering (Gopher §A1.1): fraction of
    * duplicate words, and the mass of the most frequent unigram/bigram.
    * One native one-pass expression per gram size (functions/
    * RepetitionStats.scala) — O(words) per document, fully map-side,
    * zero shuffle at any corpus size (the HOF spelling is O(words²)
    * after CollapseProject inlines `split` into the lambdas). */
  def docRepetition(s: SparkSession, d: String): DataFrame = {
    import graft.functions.RepetitionStats
    val words = split(col("text"), " ")
    Tables.documents(s, d)
      .withColumn("u", RepetitionStats.column(words, 1))
      .withColumn("b", RepetitionStats.column(words, 2))
      .select(col("doc_id"),
        col("u.n_grams").as("n_words"),
        col("u.n_distinct").as("n_distinct"),
        col("u.top_count").as("top_unigram_cnt"),
        col("b.top_count").as("top_bigram_cnt"),
        (lit(1.0) - col("u.n_distinct").cast("double") / col("u.n_grams"))
          .as("dup_word_frac"),
        (col("u.top_count").cast("double") / col("u.n_grams"))
          .as("top_unigram_frac"),
        (col("b.top_count").cast("double")
          / greatest(col("b.n_grams"), lit(1))).as("top_bigram_frac"))
      .withColumn("boilerplate",
        col("top_unigram_frac") > 0.12 || col("top_bigram_frac") > 0.05)
  }

  /** #51 TF-IDF top terms per document — the standard keyword-salience
    * score, with a rational idf ((N+1)/(df+1), no transcendental — same
    * monotone ranking, bit-identical across engines where ln() is not).
    * Token counts shuffle by (doc, term) then (term); at 100 TB both
    * aggregates are partial (map-side combine). The tf⋈df join carries
    * NO broadcast hint: a web-scale vocabulary is tens of millions of
    * terms, so AQE picks broadcast-vs-shuffle from runtime sizes
    * (forcing a broadcast here is the unbounded-broadcast trap); the
    * 1-row corpus count is the only forced broadcast. */
  def docTfidf(s: SparkSession, d: String): DataFrame = {
    val tok = graft.operators.Skew.spreadScan(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // tf feeds BOTH the per-doc side and the document-frequency rollup;
    // without the scoped persist the corpus is exploded and aggregated
    // twice (measured 1.6x end-to-end at 50k docs)
    val tf = graft.CacheScope.persistTracked(
      tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val score = col("tf").cast("double") *
      ((col("n").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)))
    val w = Window.partitionBy("doc_id")
      .orderBy(score.desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        score.as("score"), col("rnk"))
  }

  /** #52 Deterministic stratified sampling — per-language keep rates via
    * a multiplicative integer hash of doc_id (Knuth 2654435761, mod 2^32
    * mod 100), so ANY engine replays the exact subset: sampling at
    * 100 TB must be reproducible across reruns and engines, which rules
    * out rand(). doc_id is first reduced mod a prime < 2^31 so the
    * product stays under 2^63 for ANY doc_id — the unreduced form
    * overflows Long at doc_id ≈ 3.5e9, i.e. exactly 100 TB-corpus
    * territory (ANSI mode throws; non-ANSI silently wraps and breaks
    * engine agreement). Pure map-side arithmetic; the only shuffle is
    * the reporting aggregate. */
  def docSample(s: SparkSession, d: String): DataFrame = {
    val bucket = ((col("doc_id") % lit(1597334677L)) * lit(2654435761L)) %
      lit(4294967296L) % lit(100L)
    val rate = when(col("lang") === "en", 30L)
      .when(col("lang") === "es", 40L)
      .when(col("lang") === "de", 50L)
      .when(col("lang") === "fr", 60L)
      .otherwise(80L)
    Tables.documents(s, d)
      .withColumn("kept", bucket < rate)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
  }

  /** #62 Deterministic training-order shuffle + sharding: the "global
    * shuffle" every training run needs, expressed WITHOUT a total
    * order — each doc gets a shard from one multiplicative hash and a
    * within-shard position from a second, independent one (different
    * multiplier, so shard assignment and intra-shard order do not
    * correlate; ties broken by doc_id). Reproducible end to end: the
    * permutation is pure integer arithmetic on doc_id (the docSample
    * overflow-safe reduce-then-multiply form — no rand(), no
    * partition-order dependence), so a re-run, a different cluster
    * size, or the DuckDB oracle all produce the identical order.
    *
    * Scale shape (100 TB): ONE exchange on shard feeds the position
    * window; each shard sorts only its own rows by an 8-byte key —
    * never a global sort — and the shard count is the parallelism
    * knob (8 here for the oracle; thousands in production). Only
    * (doc_id, n_chars) cross the wire; text is never read. */
  def docShardOrder(s: SparkSession, d: String): DataFrame = {
    val nShards = 8L
    val h1 = ((col("doc_id") % lit(1597334677L)) * lit(2654435761L)) %
      lit(4294967296L)
    val h2 = ((col("doc_id") % lit(2147483629L)) * lit(2246822519L)) %
      lit(4294967296L)
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("shard", h1 % lit(nShards))
      .withColumn("ord", h2)
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "shard", "pos", "n_chars")
  }

  /** #57 Sequence packing (concat-and-chunk): documents concatenated in
    * doc_id order PER SOURCE and split into 512-token training
    * sequences; per-sequence doc/token accounting. The running token
    * sum is a per-source window (no global sort) and only
    * (source, doc_id, n_tok) reaches the shuffle. Oracle = the same
    * interval arithmetic as a DuckDB running-sum CTE. */
  def docPack(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.packSequences(Tables.documents(s, d), ctx = 512)

  /** #58 Mixture-matching subsample (deterministic domain reweighting):
    * the largest corpus subset whose lang mixture hits the literal
    * target weights exactly (floor rounding); per-lang kept/total/chars
    * accounting. The binding lang (es at these weights) keeps ~all its
    * docs; selection is lowest-multiplicative-hash per lang, so DuckDB
    * replays it bit-for-bit. */
  def docMixture(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.mixtureSample(Tables.documents(s, d),
      Map("en" -> 30L, "es" -> 25L, "zh" -> 20L, "de" -> 15L, "fr" -> 10L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), max("wt").as("target_pct"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))

  /** #55 End-to-end curation pipeline — the composition a training-data
    * consumer actually runs, as ONE declarative plan Catalyst optimizes
    * whole: quality gate (length + stopword ratio) → predicted-language
    * gate → exact dedup keep-first (md5 fingerprint, text never
    * shuffles) → near-dup victim removal (Jaccard τ=0.5 anti join) →
    * deterministic 50% sample → per-source token accounting. Every
    * stage is an operator verified on its own elsewhere; this query
    * pins the COMPOSITION against a single DuckDB CTE chain. */
  def docPipelineE2e(s: SparkSession, d: String): DataFrame =
    curationPipeline(s, d,
      docNgramJaccard(s, d).select(col("doc_b")).distinct())

  /** #55b Scale-safe e2e curation (VERDICT r13 item 1) — the SAME
    * composition as [[docPipelineE2e]] with the near-dup stage swapped
    * from the exact all-pairs Jaccard miner to MinHash/LSH banding
    * ([[graft.operators.TextDedup.minhashMd5Pairs]], md5 family so the
    * DuckDB oracle replays it byte-for-byte). This is the variant a
    * 100 TB pipeline actually composes: the exact miner's pair graph is
    * quadratic on adversarially dense corpora (BASELINE.md sf10),
    * while LSH's shuffle is bounded by band-bucket collisions — only
    * (doc_id, 16-wide signature) and band keys ever shuffle, never
    * text. The exact-miner variant stays as the small-corpus
    * verification pin, scale-classed out above 200k docs
    * (ScaleClasses.minerScale). */
  def docPipelineScale(s: SparkSession, d: String): DataFrame =
    curationPipeline(s, d, md5Pairs(s, d).select(col("doc_b")).distinct())

  /** Shared body of the two e2e variants: quality gate → language gate
    * → exact dedup keep-first → near-dup victim anti join (the one
    * stage the variants differ on) → deterministic 50% sample →
    * per-source token accounting, all one declarative plan. */
  private def curationPipeline(s: SparkSession, d: String,
      victims: DataFrame): DataFrame = {
    val t = col("text")
    val nWords = size(split(t, " "))
    val en = regexp_count(t, lit("\\b(the|a|of|and|is)\\b"))
    val es = regexp_count(t, lit("\\b(el|la|los|las|es|y)\\b"))
    val de = regexp_count(t, lit("\\b(der|die|das|und|ist)\\b"))
    val fr = regexp_count(t, lit("\\b(le|les|des|et|est)\\b"))
    // spread the unsplittable scan before the four regex gate passes
    // (guide §2.5; no-op at production scale)
    val gated = graft.operators.Skew.spreadScan(Tables.documents(s, d))
      .filter(nWords >= 15 && (en.cast("double") / nWords) >= 0.02)
      .filter(en >= es && en >= de && en >= fr && en > 0)
    val w = Window.partitionBy(md5(t)).orderBy(col("doc_id"))
    val exact = gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val sampled = exact
      .join(victims, col("doc_id") === col("doc_b"), "left_anti")
      .filter(((col("doc_id") % lit(1597334677L)) * lit(2654435761L))
        % lit(4294967296L) % lit(100L) < 50L)
    sampled.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(t, " "))).as("sum_tokens"),
        sum("n_chars").as("sum_chars"))
  }

  /** #46 Content fingerprinting: md5 + a 64-bit prefix as the dedup key;
    * per-source uniqueness accounting. */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 16).as("fp64"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        countDistinct(col("fp64")).as("n_unique64"))

  /** #44b Gopher-style document-level quality rules (re-expressed from
    * the published Gopher heuristics, Rae et al. 2021 — word-count
    * bounds, mean-word-length band, symbol/bullet/ellipsis caps,
    * alphabetic-word floor, required-stopword minimum) with per-rule
    * verdicts and the overall keep bit. The standard pre-training
    * filter a curation pipeline runs before any dedup — pure map-side
    * scan, zero exchanges, every metric an exact integer count with
    * double division only at the ratio boundary (the doc_quality
    * pattern).
    *
    * The alpha/bullet/ellipsis line filters are interpreted HOFs
    * (`filter` over the split arrays); per-row cost is O(words) with
    * the split re-inlined by CollapseProject — accepted for a scan-only
    * query with no shuffle to feed (same adjudication as embQuantize's
    * element_at; the hot-path shingle kernels use native expressions
    * instead). Thresholds follow the paper where the synthetic corpus
    * can express them; the stopword set is the repo-standard 5-word
    * list (doc_quality, doc_langid) so rule 7 stays discriminative on a
    * 31-word vocabulary. */
  def docGopher(s: SparkSession, d: String): DataFrame =
    gopherMetrics(Tables.documents(s, d))

  /** Library form of #44b over any (doc_id, text) frame. */
  def gopherMetrics(docs: DataFrame): DataFrame = {
    val t = col("text")
    val words = split(t, " ")
    val lines = split(t, "\n")
    val nWords = size(words)
    val nLines = size(lines)
    val meanWordLen = length(regexp_replace(t, " ", "")).cast("double") / nWords
    val symbolRatio = regexp_count(t, lit("#|\\.\\.\\.")).cast("double") / nWords
    val bulletFrac = size(filter(lines, l => l.rlike("^[-*•]")))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.rlike("\\.\\.\\.$")))
      .cast("double") / nLines
    val alphaFrac = size(filter(words, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    // rlike, not regexp_count(...) > 0: presence is the question, and
    // rlike short-circuits at the first match instead of scanning the
    // whole document for every occurrence of all five stopwords
    val stopHits = Seq("the", "a", "of", "and", "is")
      .map(wd => when(t.rlike(s"\\b$wd\\b"), 1).otherwise(0))
      .reduce(_ + _)
    docs
      .select(col("doc_id"), nWords.as("n_words"),
        meanWordLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"), stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 && col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 && col("alpha_frac") > 0.8 &&
          col("stop_hits") >= 2)
  }

  /** #51b BM25 top-k retrieval (Robertson/Lucene `ln(1 + (N-df+0.5)/
    * (df+0.5))` idf, k1=1.2, b=0.75) for a fixed query-term set over
    * the whitespace tokenizer — the retrieval sibling of doc_tfidf and
    * what a decontamination/search stage actually ranks with. Plan:
    * one (doc,term) partial-agg shuffle builds tf, reused for dl; the
    * 3-row df side and the 1-row (N, avgdl) side broadcast; top-10 via
    * TakeOrdered (distributed heap, no global sort — scale-safe where
    * a rank window over all docs is not).
    *
    * Cross-engine exactness: every count is exact; avgdl is one double
    * division of exact longs; the per-doc score sum folds
    * left-to-right over the TERM-SORTED score list in both engines
    * (sort_array+aggregate here, list_sum over list(sc ORDER BY term)
    * there — the IVF-centroid precedent), so the only inexactness is
    * libm `ln` (1-ulp class, inside the checker's 1e-12 float
    * tolerance; a top-10 boundary flip would need two distinct
    * (tf, dl) configs within ~1e-16 relative score — not observed at
    * any gated scale). */
  def docBm25(s: SparkSession, d: String): DataFrame =
    bm25Rank(Tables.documents(s, d), Seq("vector", "stream", "merge"), 10)

  /** Library form of #51b: BM25 top-`k` of `docs` for `qterms`.
    *
    * r21 shape (guide §2.3 "shuffle fewer bytes" / §1.2 algorithm
    * first): the old plan aggregated the ENTIRE (doc, term) token
    * stream — a corpus-sized shuffle — only to derive dl (= Σ tf per
    * doc) and the tf of the ≤|qterms| query terms. But dl is just the
    * per-document token count, computable MAP-SIDE as
    * size(split(text)) with zero exchanges (bit-equal: split on ' '
    * yields ≥1 element for every non-null text, so per-doc counts and
    * the corpus stats n/sumdl are the same exact longs), and tf only
    * needs tokens matching the query terms — the isin filter runs
    * BEFORE the aggregate, so the only token shuffle left is the
    * matching rows (KBs at any corpus size). Cost moves from
    * one corpus-wide exchange + cached index to two cheap scans;
    * per-row work, join order, and every output double are
    * unchanged. */
  def bm25Rank(docs: DataFrame, qterms: Seq[String], k: Int): DataFrame = {
    val spread = graft.operators.Skew.spreadScan(docs)
    // isNotNull keeps the old contract exactly: a null text produced no
    // token rows (explode of null), so it never entered dl or n before.
    // dl is persisted (narrow id+long rows) so the corpus stats and the
    // scored join share ONE map-side scan; tf (query-term rows only —
    // KBs at any corpus size) likewise feeds df and the scoring join
    // from one materialization.
    val dl = graft.CacheScope.persistTracked(
      spread.filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl")))
    val corpus = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
    val tf = graft.CacheScope.persistTracked(
      spread
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(qterms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
      .withColumn("idf",
        log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("sc",
        col("idf") * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(sort_array(collect_list(struct(col("term"), col("sc")))),
          lit(0.0), (acc, x) => acc + x.getField("sc")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "n_terms", "score")
  }

  /** #51c Hybrid retrieval fusion (reciprocal-rank fusion, Cormack et
    * al. 2009 — the standard way production retrieval combines a
    * lexical and a semantic ranker without score calibration): fuse
    * #51b's BM25 top-10 (fixed query terms) with the cosine top-10
    * neighbors of a designated query embedding (vec_id 0, the
    * deterministic demo query) via rrf = Σ_branch 1/(60 + rank);
    * branch ranks come back as 0-sentinel columns (absent from that
    * branch's top-k) so the fused row says WHERE each doc came from.
    *
    * Scale shape (100 TB): both branches are the already-audited
    * retrieval plans (one tf-index pass; broadcast query vector,
    * TakeOrdered top-k — no global sort); fusion joins two ≤k-row
    * frames, free at any corpus size. The production swap for the
    * semantic branch is [[graft.operators.Similarity.ivfPqSearch]]
    * against the persisted index — the fusion is ranker-agnostic.
    *
    * Cross-engine exactness: ranks replay bit-exactly (emb_cosine_topk
    * pins cosine `rnk` hash-green; BM25's 1-ulp ln class has never
    * flipped a gated top-k ordering), and rrf is the same two doubles
    * added in the same (lex + sem) order in both engines. */
  def docHybridRrf(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val lexTop = bm25Rank(Tables.documents(s, d),
      Seq("vector", "stream", "merge"), k)
    val lex = lexTop.withColumn("r_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast(LongType))
      .select(col("doc_id"), col("r_lex"))
    val sem = Embeddings.cosineNeighbors(s, d, queryVecId = 0L, k)
      .select(col("neighbor_id"), col("rnk").cast(LongType).as("r_sem"))
    lex.join(sem, lex("doc_id") === sem("neighbor_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("neighbor_id")).as("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_sem"), lit(0L)).as("r_sem"))
      .withColumn("rrf",
        when(col("r_lex") === 0L, 0.0)
          .otherwise(lit(1.0) / (lit(60.0) + col("r_lex"))) +
        when(col("r_sem") === 0L, 0.0)
          .otherwise(lit(1.0) / (lit(60.0) + col("r_sem"))))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "r_lex", "r_sem", "rrf")
  }

  /** The #42h/#42i shared text-modality exact kNN graph (r20 — the
    * text → embedding bridge composed with cosine kNN, the
    * [[graft.queries.Mm.mmDedup]] composition for RAW TEXT): 256-bucket
    * md5 unigram tf vectors
    * ([[graft.operators.TextFeatures.unigramBucketVec]]) over the
    * first 300 docs, exact brute-force cosine top-3 (the broadcast
    * nested loop endpoint — the scale path is
    * [[graft.operators.Similarity.ivfPqSearchRefine]] with
    * `bulk = true`, probe-measured at 100k docs by `textdedup:*`).
    * Memoized per session: doc_knn_dedup and doc_diversity both
    * consume one build, n·k id+double rows. */
  private def textKnnGraph(s: SparkSession, d: String): DataFrame =
    QueryMemo.cached(s, s"text_knn_graph:cap=300:k=3:$d") {
      val dot = graft.functions.DotProduct.column _
      val v = graft.operators.TextFeatures.unigramBucketVec(
          Tables.documents(s, d).filter(col("doc_id") < 300))
        .withColumn("norm", sqrt(dot(col("e"), col("e"))))
        .filter(col("norm") > 0)
      val q = broadcast(v.select(col("doc_id").as("query_id"),
        col("e").as("qe"), col("norm").as("qnorm")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("qcos").desc, col("neighbor_id").asc)
      v.select(col("doc_id").as("neighbor_id"), col("e"), col("norm"))
        .crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("qcos",
          dot(col("e"), col("qe")) / (col("norm") * col("qnorm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("query_id", "neighbor_id", "qcos")
    }

  /** #42h End-to-end semantic TEXT dedup from raw bytes (r20 — closes
    * for text the loop mm_dedup closed for images: until now the
    * semantic tier entered at the synthetic `embeddings` table):
    * [[textKnnGraph]] → [[graft.operators.GraphDedup.knnGraphDedup]]
    * mutual edges at τ = 0.95 → components → keep-smallest. τ = 0.95
    * on raw unigram-tf cosine separates the corpus's planted near-dup
    * texts (word-level edits leave the unigram profile nearly intact,
    * cos ≥ 0.985 measured) from unrelated docs drawn from the same
    * vocabulary (p99.9 ≈ 0.875). Constant cost at every sf (the 300
    * cap bounds all sides). */
  def docKnnDedup(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 300).select(col("doc_id").as("id"))
    graft.operators.GraphDedup.knnGraphDedup(
        textKnnGraph(s, d), nodes, tau = 0.95)
      .select(col("id").as("doc_id"), col("component"),
        col("n_members"), col("keep"))
  }

  /** #42i Diversity sampling over the TEXT graph (r20 — the
    * [[graft.operators.GraphDedup.diversityPrototypes]] consumer for
    * the text modality, second consumer of the memoized graph):
    * prototypes at τ = 0.80, deliberately below the dedup threshold —
    * dedup removes near-duplicates, this thins merely-similar lexical
    * regions while keeping every doc within one hop of a kept
    * prototype. */
  def docDiversity(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 300).select(col("doc_id").as("id"))
    graft.operators.GraphDedup.diversityPrototypes(
        textKnnGraph(s, d), nodes, tau = 0.80)
      .select(col("id").as("doc_id"), col("rep"), col("selected"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_knn_dedup" -> (docKnnDedup _),
    "doc_diversity" -> (docDiversity _),
    "doc_gopher" -> (docGopher _),
    "doc_bm25" -> (docBm25 _),
    "doc_hybrid_rrf" -> (docHybridRrf _),
    "doc_dedup_exact" -> (docDedupExact _),
    "doc_ngram_jaccard" -> (docNgramJaccard _),
    "doc_dedup_near" -> (docDedupNear _),
    "doc_dedup_clusters" -> (docDedupClusters _),
    "doc_minhash_lsh" -> (docMinhashLsh _),
    "doc_minhash_md5" -> (docMinhashMd5 _),
    "doc_simhash" -> (docSimhash _),
    "doc_simhash_md5" -> (docSimhashMd5 _),
    "doc_langid" -> (docLangid _),
    "doc_quality" -> (docQuality _),
    "doc_tokens" -> (docTokens _),
    "doc_fingerprint" -> (docFingerprint _),
    "doc_redact" -> (docRedact _),
    "doc_repetition" -> (docRepetition _),
    "doc_tfidf" -> (docTfidf _),
    "doc_sample" -> (docSample _),
    "doc_dedup_canon" -> (docDedupCanon _),
    "doc_dup_spans" -> (docDupSpans _),
    "doc_dedup_spans_remove" -> (docDedupSpansRemove _),
    "doc_decontaminate_spans" -> (docDecontaminateSpans _),
    "doc_pipeline_e2e" -> (docPipelineE2e _),
    "doc_pipeline_scale" -> (docPipelineScale _),
    "doc_decontaminate" -> (docDecontaminate _),
    "doc_decontaminate_fuzzy" -> (docDecontaminateFuzzy _),
    "doc_pack" -> (docPack _),
    "doc_shard_order" -> (docShardOrder _),
    "doc_mixture" -> (docMixture _))

  /** The shared shingle CTE body: 3-word shingles via list_transform
    * over range — the same sequence as the Spark ShingleNGrams
    * expression. NOTE: interpolated into stripMargin templates, so no
    * continuation line may start with '|' (the outer stripMargin would
    * eat it). */
  private val shingleCte =
    """SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(1, greatest(len(string_split(text,' '))-1, 1)),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] ||
      |           ' ' || string_split(text,' ')[i+2])) AS shingle
      |    FROM documents) t""".stripMargin

  /** The generated MinHash-md5 CTE chain (sh → sig → bands → cand →
    * est), shared by the doc_minhash_md5 oracle and the
    * doc_pipeline_scale oracle so k/bands stay in lockstep with the
    * Spark twin (k=16, 4 bands of 4) in both. Already stripMargin'd —
    * safe to interpolate into another template (no line starts '|'). */
  private val minhashMd5Ctes: String = {
    val k = 16; val bands = 4; val rpb = k / bands
    val sigCols = (0 until k)
      .map(j => s"min(md5('$j:' || shingle)) AS h$j").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (rpb * b until rpb * (b + 1)).map(j => s"h$j").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until k)
      .map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""sh AS (
       |  $shingleCte),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM sh GROUP BY 1),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b, CAST($agree AS DOUBLE) / $k AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = doc_a
       |  JOIN sig sb ON sb.doc_id = doc_b)""".stripMargin
  }

  private val minhashMd5Oracle: String =
    s"WITH $minhashMd5Ctes\nSELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5"

  /** Fuzzy-decontamination replay: the minhashMd5 chain with a
    * CROSS-corpus candidate join (train × bench on band agreement)
    * instead of the self-join — k/bands/hash family in lockstep with
    * [[docDecontaminateFuzzy]]'s Spark twin. */
  private val decontaminateFuzzyOracle: String = {
    val k = 16; val bands = 4; val rpb = k / bands
    val sigCols = (0 until k)
      .map(j => s"min(md5('$j:' || shingle)) AS h$j").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (rpb * b until rpb * (b + 1)).map(j => s"h$j").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until k)
      .map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh AS (
       |  $shingleCte),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM sh GROUP BY 1),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0)
       |SELECT cand.doc_id AS doc_id, cand.bench_id AS bench_id,
       |  CAST($agree AS DOUBLE) / $k AS est_jaccard
       |FROM cand
       |JOIN sig sa ON sa.doc_id = cand.doc_id
       |JOIN sig sb ON sb.doc_id = cand.bench_id
       |WHERE CAST($agree AS DOUBLE) / $k >= 0.5""".stripMargin
  }

  /** doc_pipeline_scale oracle: the e2e gate/dedup/sample CTEs composed
    * with the SAME generated MinHash chain as doc_minhash_md5 (raw
    * interpolator: the regex \b must stay a literal backslash-b). */
  private val pipelineScaleOracle: String =
    raw"""WITH gated AS (
         |  SELECT doc_id, text, source, n_chars FROM (
         |    SELECT doc_id, text, source, n_chars,
         |      len(string_split(text, ' ')) AS n_words,
         |      len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS en,
         |      len(regexp_extract_all(text, '\b(el|la|los|las|es|y)\b')) AS es,
         |      len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS de,
         |      len(regexp_extract_all(text, '\b(le|les|des|et|est)\b')) AS fr
         |    FROM documents) q
         |  WHERE n_words >= 15 AND CAST(en AS DOUBLE) / n_words >= 0.02
         |    AND en >= es AND en >= de AND en >= fr AND en > 0),
         |exact AS (
         |  SELECT * FROM (
         |    SELECT doc_id, text, source, n_chars,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM gated) e WHERE rn = 1),
         |$minhashMd5Ctes,
         |victims AS (
         |  SELECT DISTINCT doc_b FROM est WHERE est_jaccard >= 0.5),
         |sampled AS (
         |  SELECT * FROM exact
         |  WHERE doc_id NOT IN (SELECT doc_b FROM victims)
         |    AND ((doc_id % 1597334677) * 2654435761) % 4294967296 % 100 < 50)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM sampled GROUP BY 1""".stripMargin

  /** doc_simhash_md5 oracle: 64 '0'/'1' chars per doc, majority vote per
    * bit of md5's first 16 hex digits, banded candidates, differing-char
    * Hamming — every step string-domain so both engines agree. */
  private val simhashMd5Oracle: String =
    s"""WITH sh AS (
       |  $shingleCte),
       |hx AS (SELECT doc_id, substr(md5(shingle), 1, 16) AS h FROM sh),
       |bits AS (
       |  SELECT doc_id, p,
       |    SUM(CASE WHEN floor((instr('0123456789abcdef',
       |          substr(h, CAST(ceil(p/4.0) AS INT), 1)) - 1)
       |        / power(2, (p-1)%4)) % 2 = 1
       |      THEN 1 ELSE -1 END) AS s
       |  FROM hx, generate_series(1, 64) AS t(p)
       |  GROUP BY 1, 2),
       |fp AS (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS fp
       |  FROM bits GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, b, substr(fp, (b-1)*8 + 1, 8) AS bk
       |  FROM fp, generate_series(1, 8) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |res AS (
       |  SELECT doc_a, doc_b,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> CASE WHEN substr(fa.fp, i, 1) <> substr(fb.fp, i, 1)
       |           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |  FROM cand
       |  JOIN fp fa ON fa.doc_id = doc_a
       |  JOIN fp fb ON fb.doc_id = doc_b)
       |SELECT doc_a, doc_b, hamming FROM res WHERE hamming <= 7""".stripMargin

  /** DuckDB twins (doc_minhash_lsh / doc_simhash stay rows-only:
    * Spark-internal hash family — their md5-family twins above carry the
    * hash-matched evidence). Shingles are built with list_transform over
    * range — same sequence as the Spark expression. */
  /** The doc_knn_dedup/doc_diversity shared feature+graph replay
    * (r20): 256-bucket md5 unigram tf vectors from the raw text
    * (bucket = first md5 byte via hex-digit strpos — the same value
    * Spark's conv(substring(md5(w),1,2),16,10) computes), densified
    * against range(0,256), then the exact cosine top-3 in the
    * mm_dedup arithmetic order (same-operand-order dot, neighbor×query
    * norm product). Counts are integers, so every dot/norm replays
    * bit-exactly. Already stripMargin'd — safe to interpolate (no
    * line starts '|'). */
  private val textGraphCtes =
    """tok AS (
      |  SELECT doc_id, (strpos('0123456789abcdef', substr(md5(w),1,1))-1)*16
      |       + strpos('0123456789abcdef', substr(md5(w),2,1))-1 AS b,
      |    COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE doc_id < 300) t
      |  GROUP BY 1, 2),
      |dense AS (
      |  SELECT d0.doc_id, r.i, CAST(COALESCE(t.tf, 0) AS DOUBLE) AS x
      |  FROM (SELECT DISTINCT doc_id FROM tok) d0
      |  CROSS JOIN range(0, 256) r(i)
      |  LEFT JOIN tok t ON t.doc_id = d0.doc_id AND t.b = r.i),
      |fv AS (SELECT doc_id, list(x ORDER BY i) AS e
      |  FROM dense GROUP BY doc_id),
      |n AS (SELECT doc_id, e, sqrt(list_dot_product(e, e)) AS nrm
      |  FROM fv WHERE list_dot_product(e, e) > 0),
      |g AS (SELECT query_id, neighbor_id, qcos FROM (
      |  SELECT a.doc_id AS query_id, b2.doc_id AS neighbor_id,
      |    list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm) AS qcos,
      |    ROW_NUMBER() OVER (PARTITION BY a.doc_id
      |      ORDER BY list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm)
      |        DESC, b2.doc_id ASC) AS rnk
      |  FROM n a JOIN n b2 ON a.doc_id <> b2.doc_id) t
      |  WHERE rnk <= 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the text-bridge graph replay + mutual edges at 0.95 on both
    // directions + the recursive component walk (the mm_dedup oracle
    // pattern over UNIGRAM-TF features)
    "doc_knn_dedup" ->
      s"""WITH RECURSIVE $textGraphCtes,
         |mutual AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v2
         |  FROM g a JOIN g b ON b.query_id = a.neighbor_id
         |    AND b.neighbor_id = a.query_id
         |  WHERE a.query_id < a.neighbor_id
         |    AND a.qcos >= 0.95 AND b.qcos >= 0.95),
         |edges AS (SELECT u, v2 FROM mutual
         |          UNION SELECT v2, u FROM mutual),
         |walk(id, r2) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nn
         |  UNION
         |  SELECT w.id, e2.v2 FROM walk w JOIN edges e2 ON e2.u = w.r2),
         |comp AS (SELECT id, MIN(r2) AS component FROM walk GROUP BY id)
         |SELECT d.doc_id,
         |  COALESCE(c2.component, d.doc_id) AS component,
         |  COUNT(*) OVER (PARTITION BY COALESCE(c2.component, d.doc_id))
         |    AS n_members,
         |  d.doc_id = COALESCE(c2.component, d.doc_id) AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         |LEFT JOIN comp c2 ON c2.id = d.doc_id""".stripMargin,
    // the same graph replay + mutual edges at 0.80 + closed-
    // neighborhood minimum as the representative (the emb_diversity
    // oracle pattern)
    "doc_diversity" ->
      s"""WITH $textGraphCtes,
         |mutual AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v2
         |  FROM g a JOIN g b ON b.query_id = a.neighbor_id
         |    AND b.neighbor_id = a.query_id
         |  WHERE a.query_id < a.neighbor_id
         |    AND a.qcos >= 0.80 AND b.qcos >= 0.80),
         |edges AS (SELECT u, v2 FROM mutual
         |          UNION SELECT v2, u FROM mutual),
         |nbr AS (SELECT u AS id, MIN(v2) AS nmin FROM edges GROUP BY 1),
         |rp AS (SELECT d.doc_id AS id,
         |  LEAST(d.doc_id, COALESCE(nb.nmin, d.doc_id)) AS rep
         |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         |  LEFT JOIN nbr nb ON nb.id = d.doc_id)
         |SELECT rp.id AS doc_id, rp.rep, (s.rep IS NOT NULL) AS selected
         |FROM rp LEFT JOIN (SELECT DISTINCT rep FROM rp) s
         |  ON s.rep = rp.id""".stripMargin,
    "doc_gopher" ->
      """SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio < 0.1 AND bullet_frac < 0.9
        |    AND ellipsis_frac < 0.3 AND alpha_frac > 0.8
        |    AND stop_hits >= 2) AS keep
        |FROM (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS mean_word_len,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS symbol_ratio,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |        l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
        |      / len(string_split(text, chr(10))) AS bullet_frac,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |        l -> regexp_matches(l, '\.\.\.$'))) AS DOUBLE)
        |      / len(string_split(text, chr(10))) AS ellipsis_frac,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS alpha_frac,
        |    (CASE WHEN regexp_matches(text, '\bthe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\ba\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bof\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\band\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bis\b') THEN 1 ELSE 0 END)
        |      AS stop_hits
        |  FROM documents) t""".stripMargin,
    "doc_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dlq AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM dlq),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tfq
        |  WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id, t.term,
        |    ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
        |      (CAST(tf AS DOUBLE) * 2.2) /
        |      (CAST(tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS sc
        |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN nn)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  list_sum(list(sc ORDER BY term)) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "doc_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dlq AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM dlq),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tfq
        |  WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id, t.term,
        |    ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
        |      (CAST(tf AS DOUBLE) * 2.2) /
        |      (CAST(tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS sc
        |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN nn),
        |lextop AS (
        |  SELECT doc_id, list_sum(list(sc ORDER BY term)) AS score
        |  FROM sc GROUP BY doc_id
        |  ORDER BY score DESC, doc_id ASC LIMIT 10),
        |lexr AS (SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS r_lex FROM lextop),
        |v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n2 AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS norm FROM v),
        |semtop AS (
        |  SELECT c.vec_id AS neighbor_id,
        |    list_dot_product(c.e, q.e) / (c.norm * q.norm) AS cos
        |  FROM n2 c CROSS JOIN (SELECT e, norm FROM n2 WHERE vec_id = 0) q
        |  WHERE c.vec_id <> 0
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 10),
        |semr AS (SELECT neighbor_id, ROW_NUMBER() OVER (
        |    ORDER BY cos DESC, neighbor_id ASC) AS r_sem FROM semtop)
        |SELECT COALESCE(lexr.doc_id, semr.neighbor_id) AS doc_id,
        |  CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
        |  CAST(COALESCE(r_sem, 0) AS BIGINT) AS r_sem,
        |  (CASE WHEN r_lex IS NULL THEN 0.0 ELSE 1.0 / (60.0 + r_lex) END +
        |   CASE WHEN r_sem IS NULL THEN 0.0 ELSE 1.0 / (60.0 + r_sem) END)
        |    AS rrf
        |FROM lexr FULL OUTER JOIN semr ON lexr.doc_id = semr.neighbor_id
        |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    "doc_minhash_md5" -> minhashMd5Oracle,
    "doc_decontaminate_fuzzy" -> decontaminateFuzzyOracle,
    "doc_simhash_md5" -> simhashMd5Oracle,
    "doc_pipeline_scale" -> pipelineScaleOracle,
    "doc_dedup_exact" ->
      """SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM (
        |    SELECT doc_id, text, lang, n_chars FROM documents
        |    UNION ALL
        |    SELECT doc_id + 1000000, text, lang, n_chars FROM documents) u) t
        |WHERE rn = 1 GROUP BY 1""".stripMargin,
    "doc_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2])) AS shingle
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5""".stripMargin,
    "doc_dedup_near" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2])) AS shingle
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |victims AS (
        |  SELECT DISTINCT doc_b FROM pairs
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM victims)
        |GROUP BY 1""".stripMargin,
    "doc_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2])) AS shingle
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM jac
        |          UNION SELECT doc_b, doc_a FROM jac),
        |walk(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.r),
        |comp AS (SELECT id, MIN(r) AS cluster_id FROM walk GROUP BY id)
        |SELECT id AS doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM comp""".stripMargin,
    "doc_pipeline_e2e" ->
      """WITH gated AS (
        |  SELECT doc_id, text, source, n_chars FROM (
        |    SELECT doc_id, text, source, n_chars,
        |      len(string_split(text, ' ')) AS n_words,
        |      len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS en,
        |      len(regexp_extract_all(text, '\b(el|la|los|las|es|y)\b')) AS es,
        |      len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS de,
        |      len(regexp_extract_all(text, '\b(le|les|des|et|est)\b')) AS fr
        |    FROM documents) q
        |  WHERE n_words >= 15 AND CAST(en AS DOUBLE) / n_words >= 0.02
        |    AND en >= es AND en >= de AND en >= fr AND en > 0),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT doc_id, text, source, n_chars,
        |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gated) e WHERE rn = 1),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2])) AS shingle
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |victims AS (
        |  SELECT DISTINCT doc_b FROM pairs
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        |sampled AS (
        |  SELECT * FROM exact
        |  WHERE doc_id NOT IN (SELECT doc_b FROM victims)
        |    AND ((doc_id % 1597334677) * 2654435761) % 4294967296 % 100 < 50)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM sampled GROUP BY 1""".stripMargin,
    "doc_dedup_canon" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2])) AS shingle
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM jac
        |          UNION SELECT doc_b, doc_a FROM jac),
        |walk(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.r),
        |victims AS (
        |  SELECT id FROM (SELECT id, MIN(r) AS cluster_id FROM walk GROUP BY id)
        |  WHERE id <> cluster_id)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id NOT IN (SELECT id FROM victims)
        |GROUP BY 1""".stripMargin,
    "doc_dup_spans" ->
      """WITH spans AS (
        |  SELECT DISTINCT doc_id, span FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-6, 1)),
        |      i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))
        |      AS span
        |    FROM documents) t)
        |SELECT span, COUNT(*) AS n_docs FROM spans
        |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    // Replay note (the classifier sf30 lesson, applied by pattern):
    // the first formulation rebuilt EVERY doc's text with a per-group
    // ordered string_agg over all word instances — 1.5M ordered-agg
    // groups at sf30 pin ~48 GB of list buffers in DuckDB before any
    // data and OOM ungracefully. Removals are sparse (the planted-dup
    // model: ~1% of words), so this formulation inverts the rebuild:
    // per-doc removal lists (tiny) left-join the word arrays and
    // text_clean falls out of an index-aware list_filter — the only
    // corpus-sized states left are streaming aggregates. The dup set
    // uses min<>max instead of COUNT(DISTINCT) for the same reason.
    // Verified bit-equal to the old formulation at sf0.01 and
    // hash-green at sf30 where the old one could not finish.
    "doc_dedup_spans_remove" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |occ AS (
        |  SELECT doc_id, o.pos AS pos, o.span AS span FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(ws) - 6, 1)),
        |      i -> {'pos': i, 'span': array_to_string(ws[i:i+7], ' ')})) AS o
        |    FROM w) t),
        |dup AS (SELECT span FROM occ GROUP BY span
        |  HAVING min(doc_id) <> max(doc_id)),
        |rk AS (
        |  SELECT occ.*, ROW_NUMBER() OVER (
        |      PARTITION BY span ORDER BY doc_id, pos) AS r
        |  FROM occ JOIN dup USING (span)),
        |remcov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx
        |  FROM rk WHERE r > 1),
        |keepcov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx
        |  FROM rk WHERE r = 1),
        |rem AS (SELECT doc_id, idx FROM remcov
        |  ANTI JOIN keepcov USING (doc_id, idx)),
        |badl AS (SELECT doc_id, list(idx) AS bidx FROM rem GROUP BY 1)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(ws) - COALESCE(len(bidx), 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(len(bidx), 0) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(list_filter(ws,
        |    (x, i) -> COALESCE(NOT list_contains(bidx, i), TRUE)), ' '), '')
        |    AS text_clean
        |FROM w LEFT JOIN badl USING (doc_id)""".stripMargin,
    "doc_decontaminate_spans" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id % 10 <> 0),
        |bw AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id % 10 = 0),
        |occ AS (
        |  SELECT doc_id, o.pos AS pos, o.span AS span FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(ws) - 6, 1)),
        |      i -> {'pos': i, 'span': array_to_string(ws[i:i+7], ' ')})) AS o
        |    FROM w) t),
        |bsp AS (
        |  SELECT DISTINCT o.span AS span FROM (
        |    SELECT unnest(list_transform(
        |      range(1, greatest(len(ws) - 6, 1)),
        |      i -> {'pos': i, 'span': array_to_string(ws[i:i+7], ' ')})) AS o
        |    FROM bw) t),
        |rem AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx
        |  FROM occ JOIN bsp USING (span)),
        |badl AS (SELECT doc_id, list(idx) AS bidx FROM rem GROUP BY 1)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(ws) - COALESCE(len(bidx), 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(len(bidx), 0) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(list_filter(ws,
        |    (x, i) -> COALESCE(NOT list_contains(bidx, i), TRUE)), ' '), '')
        |    AS text_clean
        |FROM w LEFT JOIN badl USING (doc_id)""".stripMargin,
    "doc_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |uni AS (
        |  SELECT doc_id, len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    list_max(list_transform(list_distinct(ws),
        |      w -> len(list_filter(ws, x -> x = w)))) AS top_unigram_cnt
        |  FROM base),
        |bi AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(ws), 1)),
        |      i -> ws[i] || ' ' || ws[i+1]) AS bg
        |  FROM base),
        |bi2 AS (
        |  SELECT doc_id, len(bg) AS n_bigrams,
        |    COALESCE(list_max(list_transform(list_distinct(bg),
        |      w -> len(list_filter(bg, x -> x = w)))), 0) AS top_bigram_cnt
        |  FROM bi)
        |SELECT uni.doc_id, n_words, n_distinct, top_unigram_cnt, top_bigram_cnt,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_words AS dup_word_frac,
        |  CAST(top_unigram_cnt AS DOUBLE) / n_words AS top_unigram_frac,
        |  CAST(top_bigram_cnt AS DOUBLE) / greatest(n_bigrams, 1) AS top_bigram_frac,
        |  (CAST(top_unigram_cnt AS DOUBLE) / n_words > 0.12 OR
        |   CAST(top_bigram_cnt AS DOUBLE) / greatest(n_bigrams, 1) > 0.05)
        |    AS boilerplate
        |FROM uni JOIN bi2 ON uni.doc_id = bi2.doc_id""".stripMargin,
    "doc_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df, score, rnk FROM (
        |  SELECT doc_id, term, tf, df,
        |    CAST(tf AS DOUBLE) *
        |      ((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
        |      CAST(tf AS DOUBLE) *
        |        ((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) DESC,
        |      term) AS rnk
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nn) t
        |WHERE rnk <= 3""".stripMargin,
    "doc_sample" ->
      """SELECT lang, source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM (
        |  SELECT lang, source, n_chars,
        |    ((doc_id % 1597334677) * 2654435761) % 4294967296 % 100 <
        |      CASE lang WHEN 'en' THEN 30 WHEN 'es' THEN 40
        |                WHEN 'de' THEN 50 WHEN 'fr' THEN 60 ELSE 80 END AS kept
        |  FROM documents) t
        |GROUP BY 1, 2""".stripMargin,
    "doc_langid" ->
      """SELECT lang,
        |  CASE
        |    WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |    WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |    WHEN de >= fr AND de > 0 THEN 'de'
        |    WHEN fr > 0 THEN 'fr'
        |    ELSE 'unknown' END AS predicted,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS en,
        |    len(regexp_extract_all(text, '\b(el|la|los|las|es|y)\b')) AS es,
        |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS de,
        |    len(regexp_extract_all(text, '\b(le|les|des|et|est)\b')) AS fr
        |  FROM documents) t
        |GROUP BY 1, 2""".stripMargin,
    "doc_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_word_len,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |    / length(text) AS digit_ratio,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CASE
        |    WHEN len(string_split(text, ' ')) >= 40
        |      AND CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS DOUBLE)
        |          / len(string_split(text, ' ')) >= 0.02 THEN 'good'
        |    WHEN len(string_split(text, ' ')) >= 15 THEN 'ok'
        |    ELSE 'low' END AS quality_bucket
        |FROM documents""".stripMargin,
    "doc_tokens" ->
      """SELECT source,
        |  CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
        |  CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
        |  MAX(n_ws) AS max_ws_tokens,
        |  CAST(SUM(n_ws) AS DOUBLE) / COUNT(*) AS avg_ws_tokens
        |FROM (
        |  SELECT source, len(string_split(text, ' ')) AS n_ws,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
        |  FROM documents) t
        |GROUP BY 1""".stripMargin,
    "doc_redact" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS n_phones,
        |  length(t) AS len_raw,
        |  length(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g')) AS len_redacted,
        |  CASE WHEN length(r) <= 30 THEN r
        |       ELSE substring(r, length(r) - 29, 30) END AS tail
        |FROM (
        |  SELECT doc_id,
        |    text || ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com or +1555'
        |      || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS t,
        |    regexp_replace(regexp_replace(
        |      text || ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com or +1555'
        |        || lpad(CAST(doc_id AS VARCHAR), 7, '0'),
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS r
        |  FROM documents) x""".stripMargin,
    "doc_fingerprint" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  COUNT(DISTINCT substring(md5(text), 1, 16)) AS n_unique64
        |FROM documents GROUP BY 1""".stripMargin,
    "doc_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' '))-3, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |           || ' ' || string_split(text,' ')[i+2] || ' '
        |           || string_split(text,' ')[i+3] || ' '
        |           || string_split(text,' ')[i+4])) AS shingle
        |    FROM documents) t)
        |SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
        |  COUNT(*) AS n_shared
        |FROM sh t JOIN sh b USING (shingle)
        |WHERE t.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5""".stripMargin,
    "doc_shard_order" ->
      """SELECT doc_id,
        |  ((doc_id % 1597334677) * 2654435761) % 4294967296 % 8 AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY ((doc_id % 1597334677) * 2654435761) % 4294967296 % 8
        |    ORDER BY ((doc_id % 2147483629) * 2246822519) % 4294967296,
        |             doc_id) AS INTEGER) AS pos,
        |  n_chars
        |FROM documents""".stripMargin,
    "doc_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text,' ')) AS n_tok,
        |    CAST(SUM(len(string_split(text,' '))) OVER (
        |      PARTITION BY source
        |      ORDER BY doc_id, len(string_split(text,' '))
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
        |  FROM documents),
        |s AS (SELECT source, doc_id, n_tok, end_tok,
        |        end_tok - n_tok AS start_tok FROM t),
        |e AS (SELECT source, start_tok, end_tok,
        |        unnest(range(start_tok // 512, (end_tok - 1) // 512 + 1))
        |          AS seq_id
        |      FROM s)
        |SELECT source, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN start_tok >= seq_id * 512 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_started,
        |  CAST(SUM(least(end_tok, (seq_id + 1) * 512)
        |         - greatest(start_tok, seq_id * 512)) AS BIGINT) AS n_tokens
        |FROM e GROUP BY 1, 2""".stripMargin,
    "doc_mixture" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE lang WHEN 'en' THEN 30 WHEN 'es' THEN 25 WHEN 'zh' THEN 20
        |              WHEN 'de' THEN 15 WHEN 'fr' THEN 10 ELSE 0 END AS wt,
        |    ((doc_id % 1597334677) * 2654435761) % 4294967296 AS bucket
        |  FROM documents
        |  WHERE lang IN ('en','es','zh','de','fr')),
        |t AS (SELECT MIN((COALESCE(n_total, 0) * 100) // wt) AS t_max
        |  FROM (VALUES ('en',30),('es',25),('zh',20),('de',15),('fr',10))
        |    w(lang, wt)
        |  LEFT JOIN (SELECT lang, COUNT(*) AS n_total FROM b GROUP BY 1) c
        |    USING (lang)),
        |r AS (SELECT b.*, ROW_NUMBER() OVER (
        |        PARTITION BY lang ORDER BY bucket, doc_id) AS rk FROM b)
        |SELECT lang, COUNT(*) AS n_total, CAST(MAX(wt) AS BIGINT) AS target_pct,
        |  CAST(SUM(CASE WHEN rk <= ((SELECT t_max FROM t) * wt) // 100
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rk <= ((SELECT t_max FROM t) * wt) // 100
        |    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY 1""".stripMargin)
}
