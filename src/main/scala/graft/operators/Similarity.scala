package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded random-hyperplane LSH near-dup mining — the parameterized
  * library form of the `emb_neardup` query (SURVEY §2c #42).
  *
  * A pair becomes a candidate iff its sign bits agree on at least one
  * band; every candidate is then verified with exact cosine. Precision
  * is therefore always 1.0; recall and candidate volume are set by the
  * banding knobs:
  *
  *   candidates ≈ bands × N² / 2^bitsPerBand   (uniform buckets)
  *   P(candidate | angle θ) = 1 − (1 − (1−θ/π)^bitsPerBand)^bands
  *
  * Narrow bands (4 bits) for moderate thresholds (τ ≈ 0.4); wide bands
  * (8–16 bits) once N grows or τ rises — at 100 TB the bucket count,
  * not the machine count, is what caps the in-bucket pair blowup. Only
  * (vec_id, band_idx, band_key) rows shuffle for candidate generation;
  * vectors are fetched once per VERIFIED candidate side, and nothing is
  * ever cartesian.
  *
  * The ANN index family has ONE compressed index shape,
  * [[IvfPqIndex]] (IVFADC, Jégou et al. 2011): flat PQ is the one-cell
  * index whose only centroid is the origin ([[pqFit]]), so fit,
  * append, persistence, search and refine are one path. `raw`
  * ([[ivfSearch]]) and `sq8` ([[sq8Search]]) stay separate — their
  * oracle twins pin a different arithmetic.
  *
  * '''Zero-norm contract.''' Every cosine here goes through one
  * helper: a zero query or vector norm yields NULL — never a division,
  * so Spark's ANSI mode cannot fail the query — and a NULL score emits
  * no row (search/refine) and is never a duplicate (semDedupWithin,
  * lshNearDupPairs). A zero-norm coarse cell ranks after every
  * nonzero cell, ties by cluster. Nonzero norms keep the plain
  * `dot / (na · nb)` bits.
  */
object Similarity {

  /** Deterministic hyperplane components: murmur3 of (plane, dim)
    * scaled to [-1, 1). Driver-side literals — KBs broadcast with the
    * plan, reproducible across engines (the DuckDB oracle embeds the
    * same values). */
  def planes(nPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((p, j))
        (math.floorMod(h, 2001) - 1000) / 1000.0
      }
    }

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.column(a, b)

  /** The one cosine: `num / (na · nb)`, or NULL when the norm product
    * is zero (a zero-norm query, vector or cell). The division only
    * runs on a nonzero denominator, so ANSI mode never raises
    * DIVIDE_BY_ZERO here, and nonzero norms keep their exact bits. */
  private def cosine(num: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom =!= 0.0, num / denom)
  }

  /** The one top-k rank window: rows whose `score` is NULL (zero norm)
    * or NaN are dropped first — Spark sorts NaN above every double, so
    * an unfiltered NaN would win the rank — then per query_id the
    * (score DESC, neighbor_id ASC) rank keeps `k`. */
  private def topK(scored: DataFrame, score: String, k: Int,
      out: String*): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col(score).desc, col("neighbor_id").asc)
    scored.filter(col(score).isNotNull && !isnan(col(score)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(out.map(col): _*)
  }

  /** Per-group mean vectors from the MERGEABLE avg aggregate over
    * (keys, pos) — partial means combine map-side, nothing collects a
    * per-group value list until the ≤dim-entry reassembly. Returns
    * (keys, ce, scc). Shared by [[ivfIndex]], the [[kmeans]] update,
    * the PQ codebook update and the [[ivfPqFit]] final cells. */
  private def cellMeans(df: DataFrame, keys: Seq[String],
      e: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(e)).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*).agg(avg("x").as("cx"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        t => t.getField("cx")).as("ce"))
      .withColumn("scc", dot(col("ce"), col("ce")))

  /** IVF ANN — the production-scale path: coarse centroids from the
    * MERGEABLE avg aggregate (partial means combine map-side; nothing
    * is ever collected into a per-group list, unlike the
    * `emb_ann_ivf` query twin whose sequential folds exist solely for
    * cross-engine bit-exactness at verification scale), broadcast
    * assignment, each query probing only its own cell.
    *
    * `v` carries (vec_id, e: array<double>, norm, cluster_by) where
    * cluster_by is a NUMERIC coarse grouping column for centroid
    * seeding (the deterministic sim-tie break negates it, which has no
    * generic ordering inverse — fail fast on anything else); queries =
    * rows with isQuery true. Returns per-query top-k
    * (query_id, neighbor_id, rnk, cos, cluster).
    *
    * `nprobe` is the standard IVF recall knob: each query searches its
    * `nprobe` nearest cells (data vectors stay single-assigned, so the
    * probe fanout multiplies only the broadcast query side, never the
    * corpus). nprobe = #cells degenerates to exact brute force —
    * IvfAnnSpec pins that equivalence. */
  /** The IVF coarse index: (cluster, ce, cnorm) centroids from the
    * MERGEABLE avg aggregate. Build ONCE per corpus and reuse across
    * every search — at scale the index is a persisted ARTIFACT (it is a
    * plain DataFrame: write it to parquet, read it back, search), not a
    * per-query subplan. IvfAnnSpec pins a parquet round-tripped index
    * to search-identical results. */
  def ivfIndex(v: DataFrame): DataFrame = {
    // int/bigint only — the NearestCosine assignment kernel's input
    // contract (ADVICE r16: a wider NumericType here would build an
    // index that every ivfSearch/semDedup against it then rejects at
    // analysis time, far from the cause)
    require(Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(v.schema("cluster_by").dataType),
      s"ivfIndex: cluster_by must be int or bigint (the NearestCosine " +
        s"assignment kernel's cluster type), got " +
        v.schema("cluster_by").dataType.catalogString + " — cast it first")
    cellMeans(v.select(col("cluster_by").as("cluster"), col("e")),
        Seq("cluster"), "e")
      .select(col("cluster"), col("ce"), sqrt(col("scc")).as("cnorm"))
  }

  def ivfAnn(v: DataFrame, isQuery: Column, k: Int, nprobe: Int = 1): DataFrame =
    ivfSearch(v, ivfIndex(v), isQuery, k, nprobe)

  /** Map-side nearest-cell assignment against a prebuilt [[ivfIndex]]
    * centroid table: the centroids fold into ONE broadcast array row
    * and each vector reduces its argmax-cosine cell with the native
    * [[graft.functions.NearestCosine]] kernel — the corpus NEVER
    * shuffles for assignment (the kmeans/NearestCode plan shape;
    * PlanAuditSpec pins zero exchanges in this subplan). Returns `v`'s
    * rows with a `cluster` column appended. Bit-identical to the
    * crossJoin+groupBy(max_by) formulation it replaced wherever norms
    * are nonzero — see the kernel scaladoc for the exactness argument
    * (VERDICT r15 item 3). */
  def ivfAssign(v: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = broadcast(cent.agg(collect_list(
      struct(col("cluster"), col("ce"), col("cnorm"))).as("cs")))
    v.crossJoin(centArr)
      .withColumn("cluster",
        graft.functions.NearestCosine
          .column(col("cs"), col("e"), col("norm")).getField("cluster"))
      .drop("cs")
  }

  /** Search against a PREBUILT index (see [[ivfIndex]]): map-side
    * [[ivfAssign]] assignment, each query probing its `nprobe`
    * nearest cells. */
  def ivfSearch(v: DataFrame, cent: DataFrame, isQuery: Column, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"ivfSearch: nprobe must be >= 1, got $nprobe")
    val assigned = ivfAssign(v.withColumn("is_q", isQuery), cent)
    // query side probes its nprobe nearest cells — the per-cell sim
    // rows exist ONLY for the (tiny) query subset, never the corpus;
    // identical sim arithmetic and tie-break as the kernel argmax, so
    // nprobe=1 is exactly the single-cell assignment path (a NULL
    // zero-norm sim sorts last under DESC)
    val qw = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cluster").asc)
    val q = broadcast(v.filter(isQuery)
      .crossJoin(broadcast(cent))
      .withColumn("sim", cosine(dot(col("e"), col("ce")), col("norm"), col("cnorm")))
      .withColumn("crnk", row_number().over(qw))
      .filter(col("crnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm"), col("cluster")))
    topK(assigned
      .select(col("vec_id").as("neighbor_id"), col("e"), col("norm"),
        col("cluster"))
      .join(q, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(dot(col("e"), col("qe")), col("norm"), col("qnorm"))),
      "cos", k, "query_id", "neighbor_id", "rnk", "cos", "cluster")
  }

  /** Distributed Lloyd's k-means over (vec_id, e: array<double>) — the
    * PRODUCTION clustering path (label-free sibling of [[ivfIndex]]'s
    * label-seeded coarse index, and the standard way to get the
    * cluster column SemDeDup/IVF need when none exists).
    *
    * Seeds are the k lowest vec_ids (deterministic — no RNG in the
    * plan); each round assigns every vector to its nearest centroid
    * via ONE broadcast of the k-row centroid table (squared distance
    * see − 2·dot + scc from per-row/per-centroid cached norms — the
    * corpus never shuffles for assignment) and recomputes centroids
    * with the MERGEABLE avg aggregate over (cluster, pos): partial
    * means combine map-side, nothing ever collects a per-group value
    * list. The working set (vec_id, e, see) is persisted once and
    * reused by every round — the iterative-algorithm standard.
    * Clusters that lose all members drop out (k can only shrink),
    * matching the oracle twin's semantics.
    *
    * Returns the final (vec_id, cluster, d2) assignment. The
    * bit-exact-replay query twin is
    * [[graft.queries.Embeddings.kmeansSeqFold]]; KmeansSpec pins both
    * to identical assignments and Lloyd's non-increasing objective.
    *
    * `trainN > 0` enables SAMPLED training — the 100 TB fit path
    * (Jégou et al. 2011 §V train their codebooks on a corpus sample;
    * FAISS defaults to ~256 vectors/centroid): the Lloyd's rounds
    * iterate over the `trainN` vectors with the lowest
    * xxhash64(vec_id) (a deterministic, id-space-independent,
    * uniformly-spread sample — TakeOrdered heap, no RNG in the plan,
    * same result every run and every partitioning), and only the
    * FINAL assignment pass touches the full corpus — still the same
    * map-side broadcast argmin, so full-corpus cost drops from
    * `iters` scans to exactly one. trainN = 0 (the default) is the
    * exact pre-existing full-corpus plan, bit for bit; trainN >= n
    * trains on every vector and differs from full training only in
    * plan shape (SampledFitSpec pins the assignments equal). */
  def kmeans(v: DataFrame, k: Int, iters: Int, trainN: Int = 0): DataFrame = {
    require(k >= 1 && iters >= 1, s"kmeans: k=$k iters=$iters must be >= 1")
    val vv = graft.CacheScope.persistTracked(
      v.select(col("vec_id"), col("e"))
        .withColumn("see", dot(col("e"), col("e"))))
    // the intermediate limit() plans as a single-partition GlobalLimit;
    // re-spread the sample by id hash so the training rounds keep full
    // parallelism (deterministic partitioning — no row-order dependence
    // survives the mergeable aggregates)
    val tv = if (trainN > 0) graft.CacheScope.persistTracked(
      vv.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainN)
        .repartition(col("vec_id")))
    else vv
    // the k lowest vec_ids, SELECTED BY RANK (orderBy+limit =
    // TakeOrdered, a distributed heap — not a global sort), so the
    // documented seeding holds for ANY id space: a filtered corpus
    // whose ids start at 1000 seeds correctly instead of silently
    // producing an empty centroid set (ADVICE r15). Cluster labels are
    // the seed RANKS 0..k-1 (single-partition window over ≤k rows),
    // never the raw ids — no Int overflow at 100 TB id spaces, and for
    // dense 0-based ids rank-1 == vec_id, so nothing downstream (or in
    // the oracle twin) changes.
    val seedW = Window.orderBy("vec_id")
    var cent = tv.orderBy("vec_id").limit(k)
      .withColumn("cluster", row_number().over(seedW) - 1)
      .select(col("cluster"), col("e").as("ce"))
      .withColumn("scc", dot(col("ce"), col("ce")))
    // the k centroids fold into ONE array row, broadcast; assignment
    // is then a pure map-side argmin fold per vector — the corpus
    // NEVER shuffles for assignment (a crossJoin + groupBy(vec_id)
    // formulation would re-shuffle every vector per round). The fold
    // computes the lexicographic min over (d2, cluster), so the
    // collect_list order doesn't matter.
    def assign(set: DataFrame, c: DataFrame): DataFrame = {
      val centArr = broadcast(c.agg(
        collect_list(struct(col("cluster"), col("ce"), col("scc"))).as("cs")))
      set.crossJoin(centArr)
        .withColumn("best", nearestFold(col("cs"), col("e"), col("see")))
        .select(col("vec_id"), col("best.cluster").as("cluster"),
          col("best.d2").as("d2"), col("e"))
    }
    var assigned: DataFrame = null
    for (it <- 1 to iters) {
      assigned = assign(tv, cent)
      if (it < iters) cent = cellMeans(assigned, Seq("cluster"), "e")
    }
    // sampled training: the loop above only ever touched the sample;
    // pay the full-corpus scan exactly once, against the converged
    // centroids (the same map-side argmin the loop used).
    if (trainN > 0) assigned = assign(vv, cent)
    assigned.select("vec_id", "cluster", "d2")
  }

  /** Map-side argmin over a centroid-struct array (fields cluster, ce,
    * scc): the lexicographic min over (d2, cluster), order-independent
    * in the scan, so a collect_list's nondeterministic order cannot
    * change the winner. Shared by [[kmeans]], the coarse assignment
    * and the PQ encode. Delegates to the native
    * [[graft.functions.NearestCode]] kernel — one tight primitive loop
    * per row instead of an interpreted aggregate() fold frame per
    * centroid (~50× on the pqFit assignment step), with bit-identical
    * arithmetic (see the kernel scaladoc). */
  private def nearestFold(cs: Column, e: Column, see: Column): Column =
    graft.functions.NearestCode.column(cs, e, see)

  /** An IVFADC index (Jégou et al. 2011 §IV — the canonical
    * billion-scale ANN architecture): `coarse` = (cluster, ce, scc)
    * cell centroids, `codebooks` = (s, code, ce, scc) PQ codebooks
    * trained on the RESIDUALS e − cell(e), `codes` = (vec_id, cluster,
    * codes, dnorm) with dnorm the full decoded-vector norm |cc + r̂|
    * precomputed at build (query-independent — the cell/code cross
    * terms dot(cc_s, ce) are build-time constants), `meta` = one
    * stamped row (m, dim, kc, k_coarse, iters, n_appended, n_base) so
    * readers fail fast on a mismatch instead of silently searching
    * with the wrong slicing. Four plain DataFrames — write to parquet,
    * read back, search.
    *
    * Flat PQ is the `kCoarse = 1` index whose one cell is the origin
    * ([[pqFit]]): the residual is e − 0 = e exactly and every cross
    * term folds to +0.0, so its codes, dnorms and scores carry the
    * bits of a coarse-free PQ index. */
  final case class IvfPqIndex(m: Int, dim: Int, kc: Int, kCoarse: Int,
      coarse: DataFrame, codebooks: DataFrame, codes: DataFrame,
      meta: DataFrame)

  /** Split `e` into `m` contiguous `sub`-wide subvectors: one row per
    * (keep…, s) with the subvector `es` and its squared norm `see`. */
  private def subvectors(df: DataFrame, e: String, m: Int, sub: Int,
      keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col(e), s * sub + 1, sub).as("es"))): _*))
        .as("w"): _*)
      .select(keep.map(col) ++ Seq(col("w.s").as("s"), col("w.es").as("es")): _*)
      .withColumn("see", dot(col("es"), col("es")))

  /** Frozen-codebook encode: each (s, es, see) subvector row gets the
    * `code` of its nearest subspace centroid — map-side against the
    * per-subspace centroid arrays (a ≤m-row broadcast join on s; the
    * vectors never shuffle). The PQ training step, [[ivfPqAppend]]
    * and [[ivfPqEncode]] all encode through here. */
  private def encode(work: DataFrame, codebooks: DataFrame): DataFrame =
    work.join(broadcast(codebooks.groupBy("s").agg(collect_list(
        struct(col("code").as("cluster"), col("ce"), col("scc"))).as("cs"))), "s")
      .withColumn("code",
        nearestFold(col("cs"), col("es"), col("see")).getField("cluster"))
      .drop("cs")

  /** Coarse assignment + residual: (vec_id, e, see) rows go to their
    * nearest cell map-side against the one-row broadcast cell array,
    * then r = e − cc per element against the broadcast cell centroid.
    * Returns (vec_id, cluster, r). Shared by the fit and
    * [[ivfPqEncode]], so appended rows land exactly where built rows
    * would. */
  private def residuals(vv: DataFrame, coarse: DataFrame): DataFrame =
    vv.crossJoin(broadcast(coarse.agg(collect_list(
        struct(col("cluster"), col("ce"), col("scc"))).as("cs"))))
      .withColumn("cluster",
        nearestFold(col("cs"), col("e"), col("see")).getField("cluster"))
      .join(broadcast(coarse.select(col("cluster"), col("ce").as("cc"))),
        "cluster")
      .select(col("vec_id"), col("cluster"),
        zip_with(col("e"), col("cc"), (a, b) => a - b).as("r"))

  /** PQ codebook training over (vec_id, cluster, e) rows: split each
    * `dim`-wide vector into `m` subvectors and k-means-quantize each
    * subspace to `kc` codes. ALL m subspaces train in ONE plan — the
    * persisted working set is (vec_id, cluster, s, es, see),
    * assignment is the map-side [[encode]], updates are the mergeable
    * [[cellMeans]] over (s, code). Seeds are the kc lowest vec_ids of
    * the train set, by RANK (works for any id space; codes are the
    * seed ranks 0..kc-1 — the dense ADC slot arithmetic s·kc+code
    * REQUIRES code < kc, so raw ids must never leak into the code
    * space). `trainN > 0` iterates only the trainN lowest-xxhash64
    * vectors and encodes the full set in one final pass (the
    * [[kmeans]] convention). Returns (codebooks (s, code, ce, scc),
    * code rows (vec_id, cluster, s, code)). */
  private def trainCodebooks(v: DataFrame, dim: Int, m: Int, kc: Int,
      iters: Int, trainN: Int): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"pqFit: m=$m must divide dim=$dim")
    require(kc >= 1 && iters >= 1, s"pqFit: kc=$kc iters=$iters must be >= 1")
    val work = graft.CacheScope.persistTracked(
      subvectors(v, "e", m, dim / m, "vec_id", "cluster"))
    val trainIds = if (trainN > 0) Some(broadcast(
      v.select(col("vec_id"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainN)))
    else None
    val tw = trainIds.map(t => graft.CacheScope.persistTracked(
      work.join(t, "vec_id"))).getOrElse(work)
    val seedIds = broadcast(
      trainIds.map(_.select(col("vec_id")))
        .getOrElse(v.select(col("vec_id")))
        .orderBy("vec_id").limit(kc)
        .withColumn("code", row_number().over(Window.orderBy("vec_id")) - 1))
    var cb = tw.join(seedIds, "vec_id")
      .select(col("s"), col("code"), col("es").as("ce"))
      .withColumn("scc", dot(col("ce"), col("ce")))
    var assigned: DataFrame = null
    for (it <- 1 to iters) {
      assigned = encode(tw, cb)
      if (it < iters) cb = cellMeans(assigned, Seq("s", "code"), "es")
    }
    // sampled training: ENCODE the full set in one map-side pass
    // against the converged codebooks (the loop only read the sample)
    if (trainN > 0) assigned = encode(work, cb)
    (cb, assigned.select("vec_id", "cluster", "s", "code"))
  }

  /** The build-time code fold shared by the fit and [[ivfPqEncode]]:
    * code rows (vec_id, cluster, s, code) become (vec_id, cluster,
    * codes, dnorm) in ONE groupBy. Cross terms dot(cc_s, ce) per
    * (cluster, s, code) make the decoded norm |cc + r̂| a build-time
    * fold — dnorm² = (scc + 2·Σ_s xterm) + Σ_s scc_code, associated
    * exactly as written (the oracle twin replays this order). The
    * coarse scc rides the xterm broadcast (constant per cluster, so
    * first(scc) folds identically on every matched row). */
  private def foldCodes(coarse: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codeRows: DataFrame): DataFrame = {
    def sumByS(c: String): Column = aggregate(
      transform(array_sort(collect_list(struct(col("s"), col(c)))),
        t => t.getField(c)),
      lit(0.0), (acc, x) => acc + x)
    val xterm = subvectors(coarse, "ce", m, dim / m, "cluster", "scc")
      .join(codebooks.select(col("s"), col("code"),
        col("ce"), col("scc").as("rcc")), "s")
      .select(col("cluster"), col("s"), col("code"),
        dot(col("es"), col("ce")).as("xt"), col("rcc"), col("scc"))
    codeRows.join(broadcast(xterm), Seq("cluster", "s", "code"))
      .groupBy("vec_id")
      .agg(first(col("cluster")).as("cluster"),
        transform(array_sort(collect_list(struct(col("s"), col("code")))),
          t => t.getField("code")).as("codes"),
        sqrt((first(col("scc")) + lit(2.0) * sumByS("xt")) + sumByS("rcc"))
          .as("dnorm"))
  }

  /** Index assembly shared by both fits: fold the code rows and stamp
    * meta. n_base rides the plan lazily (the [[ivfPqAppend]] bump
    * discipline): materialized once into parquet by
    * [[saveIvfPqIndex]], it lets [[needsRefit]] answer from two meta
    * longs without ever re-executing the encode plan behind `codes`. */
  private def assemble(v: DataFrame, coarse: DataFrame,
      codebooks: DataFrame, codeRows: DataFrame, dim: Int, m: Int,
      kc: Int, kCoarse: Int, iters: Int): IvfPqIndex = {
    import v.sparkSession.implicits._
    val meta = Seq((m, dim, kc, kCoarse, iters, 0L))
      .toDF("m", "dim", "kc", "k_coarse", "iters", "n_appended")
      .crossJoin(v.agg(count_distinct(col("vec_id")).as("n_base")))
    IvfPqIndex(m, dim, kc, kCoarse, coarse, codebooks,
      foldCodes(coarse, codebooks, dim, m, codeRows), meta)
  }

  /** Product quantization — the vector-compression tier beyond SQ8:
    * split each `dim`-wide vector into `m` contiguous subvectors and
    * k-means-quantize each subspace to `kc` codes (deterministic
    * seeds: the kc lowest vec_ids, the [[kmeans]] convention), so a
    * vector stores as m small ints — dim·4 bytes of float32 become
    * m bytes at kc ≤ 256, a 4·dim/m× compression where SQ8 is fixed
    * 4×.
    *
    * The result is the one-cell [[IvfPqIndex]]: `kCoarse = 1`, one
    * zero centroid (scc = 0), `cluster = 0` on every code row — so
    * [[ivfPqSearch]], [[ivfPqSearchRefine]], [[ivfPqAppend]] and
    * [[saveIvfPqIndex]]/[[loadIvfPqIndex]] serve flat PQ unchanged.
    * kc ≥ #distinct subvectors degenerates to exact reconstruction,
    * which PqSpec pins to brute-force-identical search — the
    * provably-exact endpoint, the nprobe=#cells precedent.
    *
    * `trainN > 0` = sampled codebook training, the [[kmeans]]
    * convention and the 100 TB fit path: codebook quality depends on
    * the sample's coverage of the distribution, not the corpus size,
    * which is why every production PQ system fits this way (Jégou
    * et al. 2011 §V). trainN = 0 keeps the full-corpus plan. */
  def pqFit(v: DataFrame, dim: Int, m: Int, kc: Int, iters: Int,
      trainN: Int = 0): IvfPqIndex = {
    import v.sparkSession.implicits._
    val origin = Seq((0, Array.fill(dim)(0.0), 0.0)).toDF("cluster", "ce", "scc")
    val (cb, codeRows) = trainCodebooks(
      v.select(col("vec_id"), lit(0).as("cluster"), col("e")),
      dim, m, kc, iters, trainN)
    assemble(v, origin, cb, codeRows, dim, m, kc, 1, iters)
  }

  /** IVFADC fit: coarse-quantize with [[kmeans]], PQ-quantize the
    * residuals with the [[pqFit]] trainer, and precompute everything a
    * search needs that does not depend on the query.
    *
    * Why residuals: within a cell the residual variance is a fraction
    * of the corpus variance, so the same m·kc code budget quantizes
    * residuals with less error than raw vectors — the reason IVFADC
    * outperforms flat PQ at equal compression.
    *
    * Scale shape: coarse centroids are a ≤kCoarse-row broadcast
    * everywhere they appear (re-assignment against FINAL centroids is
    * the map-side [[nearestFold]] — consistent with what search
    * probes); residual subtraction is a per-row zip_with against the
    * broadcast cell centroid; the cell/code cross-term table
    * (kCoarse·m·kc rows) and the dnorm correction are build-time
    * joins of small tables against the code rows. The only wide op on
    * the corpus is the one-time code fold on vec_id — search never
    * shuffles the corpus. */
  def ivfPqFit(v: DataFrame, dim: Int, m: Int, kc: Int, kCoarse: Int,
      iters: Int, trainN: Int = 0): IvfPqIndex = {
    require(kCoarse >= 1, s"ivfPqFit: kCoarse=$kCoarse must be >= 1")
    val vv = graft.CacheScope.persistTracked(
      v.select(col("vec_id"), col("e"))
        .withColumn("see", dot(col("e"), col("e"))))
    // converge centroids with the production kmeans, then take FINAL
    // cell means (mergeable avg) — search probes these exact
    // centroids, so the re-assignment inside ivfPqFitWithCoarse does
    // too. With trainN > 0 the Lloyd's rounds (here and in the
    // residual trainer) iterate only the sample; the full corpus is
    // touched exactly three times — final cell means below, residual
    // computation, residual encoding — each a single map-side or
    // mergeable-agg pass.
    val asg = kmeans(vv, kCoarse, iters, trainN)
    ivfPqFitWithCoarse(vv, cellMeans(asg.join(vv, "vec_id"), Seq("cluster"), "e"),
      dim, m, kc, kCoarse, iters, trainN)
  }

  /** [[ivfPqFit]] with a caller-supplied coarse table (cluster, ce,
    * scc) — the oracle-twin hook: `emb_ann_ivfpq` injects a
    * vec_id-ordered seqfold mean (replayable in SQL where the
    * mergeable avg is not) and everything downstream of the coarse
    * step runs the SAME production path the kmeans-seeded fit uses.
    *
    * Both `coarse` and the residual assignment are persisted before
    * anything consumes them twice: the kmeans-seeded coarse lineage
    * ends in a mergeable avg whose float combine order Spark does not
    * fix, so independent re-evaluations (codes fold, each broadcast,
    * the artifact's separate writes) could disagree in the last ulp
    * and flip a boundary vector's cell between the residual codes and
    * their stamped cluster — persisting pins ONE evaluation for every
    * consumer, making the built index internally consistent by
    * construction (and saving the repeated Lloyd's/residual work). */
  def ivfPqFitWithCoarse(v: DataFrame, coarse0: DataFrame, dim: Int,
      m: Int, kc: Int, kCoarse: Int, iters: Int,
      trainN: Int = 0): IvfPqIndex = {
    val vv =
      if (v.columns.contains("see")) v.select("vec_id", "e", "see")
      else v.select(col("vec_id"), col("e"))
        .withColumn("see", dot(col("e"), col("e")))
    val coarse = graft.CacheScope.persistTracked(coarse0)
    val assigned = graft.CacheScope.persistTracked(residuals(vv, coarse))
    val (cb, codeRows) = trainCodebooks(
      assigned.select(col("vec_id"), col("cluster"), col("r").as("e")),
      dim, m, kc, iters, trainN)
    assemble(v, coarse, cb, codeRows, dim, m, kc, kCoarse, iters)
  }

  /** Add the row count `n` of `from` to meta's `n_appended` — lazily:
    * the counter rides the plan, no action here. */
  private def bumpAppended(meta: DataFrame, from: DataFrame,
      n: Column): DataFrame = {
    val base =
      if (meta.columns.contains("n_appended")) meta
      else meta.withColumn("n_appended", lit(0L))
    base.crossJoin(from.agg(n.as("_batch")))
      .withColumn("n_appended", col("n_appended") + col("_batch"))
      .drop("_batch")
  }

  /** Incremental IVFADC maintenance (VERDICT r15 item 5): append new
    * vectors to a built index WITHOUT refitting. Cells and codebooks
    * stay FROZEN — each new vector is coarse-assigned map-side against
    * the broadcast cell table (the exact fit assignment expression),
    * its residual is PQ-encoded against the frozen per-subspace
    * codebooks (the training encode step, no refit iterations), and
    * its dnorm is the same build-time xterm fold — so appended rows
    * are indistinguishable from built rows at search time. No
    * corpus-keyed shuffle anywhere: the only wide op is the per-vector
    * groupBy(vec_id) fold of the new batch itself. A [[pqFit]] index
    * appends the same way (its one cell takes every vector).
    * (SQ8 needs no append operator at all: [[sq8Index]] rows are
    * per-vector-independent, so appending IS
    * `index.unionByName(sq8Index(newV))`.)
    *
    * Staleness is tracked, not hidden: meta's `n_appended` accumulates
    * the appended vec_id count — counted from the INPUT (one
    * distinct-id scan), not the encode plan, which would otherwise
    * re-run on every meta read — so operators can refit once drift
    * matters (frozen centroids quantize a drifting distribution
    * progressively worse — the standard IVF maintenance trade). At the
    * exact endpoint (kc ≥ distinct subvectors, nprobe = kCoarse)
    * appended and refit indexes search IDENTICALLY (IvfPqSpec pins
    * it); away from it the frozen-codebook approximation degrades
    * gracefully with batch drift.
    *
    * Caller contract: `newV` ids must be fresh (appending an existing
    * vec_id creates a duplicate row, same as writing it twice into any
    * append-only store). */
  def ivfPqAppend(index: IvfPqIndex, newV: DataFrame): IvfPqIndex =
    index.copy(codes = index.codes.unionByName(ivfPqEncode(index, newV)),
      meta = bumpAppended(index.meta, newV, count_distinct(col("vec_id"))))

  /** The encode-only step of [[ivfPqAppend]]: new (vec_id, e) vectors
    * coarse-assigned and residual-PQ-encoded against the FROZEN cells
    * and codebooks, dnorm folded exactly as at build time. Returns
    * rows in the index.codes schema — the unit a streaming append
    * sink writes as an idempotent per-batch delta
    * ([[graft.streaming.EmbStream.ivfPqAppendSink]]) and
    * [[loadIvfPqIndexWithDeltas]] folds back in. */
  def ivfPqEncode(index: IvfPqIndex, newV: DataFrame): DataFrame = {
    val vv = newV.select(col("vec_id"), col("e"))
      .withColumn("see", dot(col("e"), col("e")))
    val work = subvectors(residuals(vv, index.coarse), "r", index.m,
      index.dim / index.m, "vec_id", "cluster")
    foldCodes(index.coarse, index.codebooks, index.dim, index.m,
      encode(work, index.codebooks).select("vec_id", "cluster", "s", "code"))
      .select(index.codes.columns.map(col): _*)
  }

  /** The residual codebooks densified to slot order as ONE broadcast
    * array row — (slot = s·kc + code; holes from empty clusters
    * zero-filled: an assigned code always exists, so a hole is never
    * read — and the kernel's dot against a zero vector reproduces the
    * old grid join's 0.0 fill bit-for-bit). The per-query dense ADC
    * table of [[ivfPqSearch]] builds against it. */
  private def denseCodebookArr(spark: org.apache.spark.sql.SparkSession,
      codebooks: DataFrame, m: Int, kc: Int, sub: Int): DataFrame = {
    // NOTE (r22): a one-aggregate densification (map_from_entries +
    // per-slot element_at) was tried and measured SLOWER — element_at
    // on a Spark map is a linear scan, so filling 4096 slots cost
    // O(slots²) interpreted probes per search (emb_ann_pq +40%). The
    // grid left join below is the cheap shape: 4096-row broadcast
    // join, one sort-collect — on one partition, so the collect needs
    // no shuffle stage of its own (the cell-array rule in ivfPqSearch).
    val grid = spark.range(m.toLong * kc).select(
      (col("id") / kc).cast("int").as("s"),
      (col("id") % kc).cast("int").as("code"))
    broadcast(grid
      .join(codebooks.select(col("s"), col("code"), col("ce")),
        Seq("s", "code"), "left")
      .withColumn("ce",
        coalesce(col("ce"), array_repeat(lit(0.0), sub)))
      .coalesce(1).groupBy().agg(transform(
        array_sort(collect_list(struct(
          (col("s") * kc + col("code")).as("slot"),
          struct(col("s"), col("ce")).as("entry")))),
        t => t.getField("entry")).as("cb")))
  }

  /** IVFADC top-k cosine search: each query ranks the coarse cells by
    * cosine (tie toward the lower cluster id — the [[ivfSearch]]
    * convention; a zero-norm cell ranks after every nonzero cell),
    * probes its `nprobe` nearest, and scores ONLY the vectors of those
    * cells, never decoding them:
    * qcos = (dot(q, cc) + Σ_s tarr[s·kc+codes[s]]) / (dnorm·qnorm),
    * with tarr[s·kc+code] = dot(q_s, ce) the per-query dense ADC
    * table built MAP-SIDE by the native [[graft.functions.AdcTable]]
    * kernel against the one-row densified codebook broadcast, and the
    * Σ the native [[graft.functions.AdcFold]] kernel (m O(1) lookups
    * per row, folded in subspace order from 0.0). nprobe = kCoarse
    * scores every vector (the recall-1.0 endpoint of the cell
    * selection; reconstruction error is then the only approximation —
    * and with kc ≥ corpus that is exact residual reconstruction, the
    * IvfPqSpec differential pin). On a [[pqFit]] index the one origin
    * cell is always probed and dot(q, 0) = +0.0, so the score is the
    * flat ADC cosine bit for bit.
    *
    * `queries` carries (query_id, qe, qnorm). Cell ranking is a
    * map-side ascending struct sort on (−csim, cluster) against the
    * one-row cell array; `bulk` picks the query side's plan:
    *  - false (interactive lookups, micro-batches): the tiny
    *    (query_id, cluster, qdotcc) probe rows and the per-query tarr
    *    rows broadcast as two hash joins — each query's m·kc table
    *    ships once, not nprobe times — so the codes never shuffle.
    *  - true (kNN-graph builds, where EVERY corpus vector is a query
    *    and cannot sit on the broadcast side): probes and tarr build
    *    map-side in one pass, then the scoring join co-partitions both
    *    sides on `cluster` (scored pairs = Σ_cell |queries probing
    *    cell|·|cell codes|; AQE splits skewed cells).
    * Both compute the same expressions, so IvfPqSpec pins
    * bulk ≡ broadcast bit for bit. The per-query rank window is the
    * only query-keyed exchange, its input pre-capped map-side by
    * WindowGroupLimit.
    *
    * `excludeSelf` (default true) implements the repo-wide
    * corpus-member-query convention: query_id shares the vec_id space
    * and a vector never reports itself as its own neighbor. Pass
    * false when queries are EXTERNAL vectors whose ids merely happen
    * to collide with corpus ids (e.g. a stream of new arrivals) —
    * otherwise an unrelated corpus vector would be silently dropped
    * from that query's candidates.
    *
    * A zero-norm query or decoded vector scores NULL and emits no row
    * (the zero-norm contract above). */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 1, excludeSelf: Boolean = true,
      bulk: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"ivfPqSearch: nprobe must be >= 1, got $nprobe")
    val (m, kc, sub) = (index.m, index.kc, index.dim / index.m)
    // coalesce(1): a one-partition input already satisfies the
    // one-row aggregate, so it runs inside the broadcast job instead of
    // behind its own shuffle stage (one Spark job less per search; the
    // array_sort makes the row order irrelevant)
    val cellsArr = broadcast(index.coarse.coalesce(1).groupBy().agg(
      array_sort(collect_list(struct(
        col("cluster"), col("ce"), col("scc")))).as("cells")))
    val cbArr = denseCodebookArr(queries.sparkSession, index.codebooks, m, kc, sub)
    def withTarr(q: DataFrame): DataFrame = q.crossJoin(cbArr)
      .withColumn("tarr", graft.functions.AdcTable.column(col("qe"), col("cb"), sub))
    // a NULL (zero-norm) sim becomes NaN, which the ascending struct
    // sort places after every number — ties then fall to cluster
    val probed = queries.crossJoin(cellsArr)
      .withColumn("pc", slice(array_sort(transform(col("cells"), c => {
        val qd = dot(col("qe"), c.getField("ce"))
        struct(
          coalesce(-cosine(qd, col("qnorm"), sqrt(c.getField("scc"))),
            lit(Double.NaN)).as("negsim"),
          c.getField("cluster").as("cluster"), qd.as("qdotcc"))
      })), 1, nprobe))
    def probeRows(df: DataFrame, keep: String*): DataFrame =
      df.select(keep.map(col) :+ explode(col("pc")).as("p"): _*)
        .select(keep.map(col) ++ Seq(col("p.cluster").as("cluster"),
          col("p.qdotcc").as("qdotcc")): _*)
    val scored =
      if (bulk) index.codes.join(
        probeRows(withTarr(probed), "query_id", "qnorm", "tarr"), "cluster")
      else index.codes.join(broadcast(probeRows(probed, "query_id")), "cluster")
        .join(broadcast(withTarr(queries).select("query_id", "qnorm", "tarr")),
          "query_id")
    topK(scored
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cluster"),
        cosine(col("qdotcc") +
          graft.functions.AdcFold.column(col("codes"), col("tarr"), m, kc),
          col("dnorm"), col("qnorm")).as("qcos")),
      "qcos", k, "query_id", "neighbor_id", "rnk", "qcos", "cluster")
  }

  /** Two-stage refine search (Jégou et al. 2011 §VI "re-ranking with
    * source coding"; the FAISS `IndexRefineFlat` pattern): the
    * cell-probed ADC search shortlists `kShort` candidates per query
    * from the compressed codes, then ONLY those candidates are
    * re-scored with EXACT cosine from the raw float vectors and the
    * true top `k` is returned. This is the production answer to PQ's
    * lossy recall: the quantized index does the heavy candidate
    * elimination corpus-stationary, and the exact pass touches
    * nQ·kShort raw vectors. It composes the two recall knobs — nprobe
    * widens the scored fraction, kShort deepens the exact pass —
    * without the corpus ever shuffling. `bulk` is the
    * [[ivfPqSearch]] query-side switch, applied to both stages.
    *
    * `raw` carries (vec_id, e); norms are derived here with the same
    * sequential arithmetic as the brute-force baseline, so the
    * re-ranked qcos is bit-identical to what exact search would emit
    * for the same pair (PqSpec pins the kShort ≥ corpus endpoint ≡
    * brute force). Output: (query_id, neighbor_id, rnk, qcos). */
  def ivfPqSearchRefine(index: IvfPqIndex, queries: DataFrame,
      raw: DataFrame, k: Int, kShort: Int, nprobe: Int = 1,
      excludeSelf: Boolean = true, bulk: Boolean = false): DataFrame = {
    require(kShort >= k,
      s"ivfPqSearchRefine: kShort=$kShort must be >= k=$k")
    refineExact(
      ivfPqSearch(index, queries, kShort, nprobe, excludeSelf, bulk),
      queries, raw, k, bulk)
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist
    * against the raw vectors: qcos = dot(e, qe) / (sqrt(dot(e,e)) ·
    * qnorm), sequential dots, (qcos DESC, neighbor_id ASC) ties. Plan
    * shape: with `bulk` false the nQ·kShort shortlist broadcasts into
    * a hash semi-join against the raw scan (the corpus' only
    * appearance; 2-column pruned read, never hash-shuffled on vec_id)
    * and the queries broadcast for (qe, qnorm); with `bulk` true
    * (corpus-scale shortlists) both hash-join instead. The final rank
    * window sees only the shortlist rows either way. */
  private def refineExact(shortlist: DataFrame, queries: DataFrame,
      raw: DataFrame, k: Int, bulk: Boolean): DataFrame = {
    def side(df: DataFrame): DataFrame = if (bulk) df else broadcast(df)
    topK(raw.select(col("vec_id").as("neighbor_id"), col("e"))
      .join(side(shortlist.select(col("query_id"), col("neighbor_id"))),
        "neighbor_id")
      .join(side(queries.select(col("query_id"), col("qe"), col("qnorm"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(dot(col("e"), col("qe")), sqrt(dot(col("e"), col("e"))),
          col("qnorm")).as("qcos")),
      "qcos", k, "query_id", "neighbor_id", "rnk", "qcos")
  }

  /** Persist / reload an [[IvfPqIndex]] (parquet artifact). Load
    * validates the stamped meta row and re-derives m/dim/kc/kCoarse
    * from it — a caller can not accidentally search a reloaded index
    * with the wrong slicing. */
  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    index.coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    index.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    index.meta.write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    val meta = spark.read.parquet(s"$dir/meta")
    val row = meta.select("m", "dim", "kc", "k_coarse", "iters").collect()
    require(row.length == 1, s"loadIvfPqIndex: malformed meta at $dir/meta")
    val (m, kc) = (row(0).getInt(0), row(0).getInt(2))
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val codes = spark.read.parquet(s"$dir/codes")
    checkPqArtifacts("loadIvfPqIndex", dir, m, kc, codebooks, codes)
    IvfPqIndex(m, row(0).getInt(1), kc, row(0).getInt(3),
      spark.read.parquet(s"$dir/coarse"), codebooks, codes, meta)
  }

  /** Cheap cross-table consistency check at artifact load (ADVICE r15:
    * the stamped meta alone cannot catch a dir whose codes/codebooks
    * were written under different parameters — e.g. a partially
    * overwritten artifact — which would otherwise search with wrong
    * slicing and return silent garbage). Cost: one full agg over the
    * SMALL codebook table (≤ m·kc rows) + a LIMIT-1 probe of codes —
    * never a corpus scan. */
  private def checkPqArtifacts(who: String, dir: String, m: Int, kc: Int,
      codebooks: DataFrame, codes: DataFrame): Unit = {
    val cb = codebooks.agg(max(col("code")).as("maxc"),
      countDistinct(col("s")).as("ns")).collect()(0)
    require(cb.isNullAt(0) || (cb.getInt(0) < kc && cb.getLong(1) <= m),
      s"$who: $dir codebooks inconsistent with stamped meta " +
        s"(max code ${cb.get(0)} vs kc=$kc, ${cb.get(1)} subspaces vs m=$m)")
    require(codes.columns.contains("cluster"),
      s"$who: $dir codes table lacks the IVFADC cluster column")
    val sample = codes.select(size(col("codes")).as("sz")).limit(1).collect()
    require(sample.isEmpty || sample(0).getInt(0) == m,
      s"$who: $dir codes are ${sample(0).getInt(0)}-wide, stamped m=$m")
  }

  /** [[loadIvfPqIndex]] + fold-in of streaming append deltas: reads
    * every `batch_id=N` code-delta subtree a
    * [[graft.streaming.EmbStream.ivfPqAppendSink]] wrote under
    * `deltaDir`, unions it with the base codes, and bumps
    * `n_appended` by the delta row count (lazily — the counter rides
    * the plan like [[ivfPqAppend]]'s). Cells and codebooks are the
    * frozen base artifacts, so the loaded index searches exactly like
    * the batch [[ivfPqAppend]] of the same vectors (EmbStreamSpec
    * pins stream-appended ≡ batch-appended ≡ refit at the exact
    * endpoint). A missing/empty deltaDir loads the base unchanged. */
  def loadIvfPqIndexWithDeltas(spark: org.apache.spark.sql.SparkSession,
      dir: String, deltaDir: String): IvfPqIndex = {
    val base = loadIvfPqIndex(spark, dir)
    graft.streaming.Delivery.readDeltas(spark, deltaDir) match {
      case None => base
      case Some(read) =>
        val deltas = read.select(base.codes.columns.map(col): _*)
        checkPqArtifacts("loadIvfPqIndexWithDeltas", deltaDir, base.m,
          base.kc, base.codebooks, deltas)
        base.copy(codes = base.codes.unionByName(deltas),
          meta = bumpAppended(base.meta, deltas, count(lit(1))))
    }
  }

  /** Refit policy — makes the `n_appended` staleness counter
    * actionable: true when the appended fraction of the index
    * (appended rows / rows the cells+codebooks were FIT on) exceeds
    * `maxAppendFraction`. The PROBES `refit:*` curve (gmm corpus,
    * dimension-REVERSED appends — hard distribution shift) keeps the
    * policy honest about what a refit buys: recall on drifted queries
    * decays mostly because the corpus drifted (0.238 → ~0.10 for the
    * refit itself at 100% append), while the frozen-codebook penalty
    * on top of that is small at this code budget (appended 0.218 vs
    * refit 0.238 at 10%; within query-sampling noise of each other at
    * 50-100% — the appended index even reads higher at 50%). So the
    * 0.5 default is a STALENESS ACCOUNTING guard — bound how much of
    * the index the fit never saw, refresh cells/codebooks on the next
    * maintenance window — not a measured recall cliff; raise m or add
    * the refine stage when drifted-query recall itself is the problem
    * (§8 nprobe note). Answers from the 1-row meta alone (n_base is
    * stamped at fit, n_appended by appends; only pre-r18 artifacts
    * without n_base fall back to a codes count); an index with no
    * appends never needs a refit by this policy. */
  def needsRefit(index: IvfPqIndex,
      maxAppendFraction: Double = 0.5): Boolean = {
    require(maxAppendFraction > 0.0,
      s"needsRefit: maxAppendFraction must be > 0, got $maxAppendFraction")
    val metaCols = index.meta.columns.toSet
    val appended =
      if (!metaCols.contains("n_appended")) 0L
      else index.meta.select("n_appended").collect()(0).getLong(0)
    if (appended == 0L) false
    else {
      // n_base (stamped at fit since r18) answers from the 1-row meta;
      // pre-r18 artifacts fall back to counting codes — for those,
      // persist or reload the index first if the encode plan is hot
      val base =
        if (metaCols.contains("n_base"))
          index.meta.select("n_base").collect()(0).getLong(0)
        else {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "needsRefit: meta has no n_base stamp (pre-r18 artifact) — " +
              "falling back to codes.count(), which EXECUTES the codes " +
              "plan; persist or reload the index first if appends ride " +
              "an unmaterialized encode")
          index.codes.count() - appended
        }
      // the threshold rule itself is shared with KnnGraph.needsRebuild
      StalenessPolicy.exceeded(base, appended, maxAppendFraction)
    }
  }

  /** Within-cluster SemDeDup pruning core (Abbas et al. 2023 — the
    * standard semantic-dedup curation pass): pairs at cosine ≥ tau
    * inside one cluster are duplicates, the greedy pass keeps the
    * smallest vec_id of each pair, and the result is per-cluster
    * (cluster, n_total, n_kept, n_dropped) accounting. The
    * within-cluster restriction IS the method's scale story:
    * comparisons are quadratic only inside a cluster (an equi join on
    * the cluster key — never a cartesian), and cluster sizes are
    * capped by the k-means k knob. The smallest id of a cluster is
    * never a victim, so no cluster ever empties out of the result.
    * `v` carries (vec_id, e: array<double>, norm) + the named cluster
    * column. A zero-norm vector is nobody's duplicate. */
  def semDedupWithin(v: DataFrame, cluster: String, tau: Double): DataFrame = {
    val a = v.select(col(cluster), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("norm").as("na"))
    val b = v.select(col(cluster), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("norm").as("nb"))
    val victims = a.join(b, Seq(cluster))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select(col("vec_b").as("victim")).distinct()
    v.join(victims, col("vec_id") === col("victim"), "left_anti")
      .groupBy(cluster)
      .agg(count(lit(1)).as("n_kept"))
      .join(v.groupBy(cluster).agg(count(lit(1)).as("n_total")), Seq(cluster))
      .select(col(cluster), col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"))
  }

  /** End-to-end SemDeDup against a PREBUILT IVF index (see
    * [[ivfIndex]]): every vector goes to its nearest centroid via the
    * map-side [[ivfAssign]] kernel fold (zero corpus exchanges for
    * assignment), then [[semDedupWithin]] prunes inside each cell. The
    * index is the persisted-artifact path — build once, parquet
    * round-trip, dedup many corpora against it.
    *
    * NULL-cluster convention (ADVICE r16): the kernel assigns NULL
    * when no centroid is selectable (empty centroid table, or a
    * zero-norm vector whose sims are all NaN). Those rows are EXCLUDED
    * here — an unassignable vector is not in any cell, so no cell
    * dedups or counts it (and an empty index dedups nothing, matching
    * the pre-kernel groupBy(max_by) formulation, which produced no
    * assignment rows at all). */
  def semDedup(v: DataFrame, cent: DataFrame, tau: Double): DataFrame =
    semDedupWithin(
      ivfAssign(v, cent).select("vec_id", "cluster", "e", "norm")
        .filter(col("cluster").isNotNull),
      "cluster", tau)

  /** SQ8-compressed vector index — the memory-bound ANN artifact: each
    * vector stored as uint8 grid codes (array<tinyint>, 4× smaller than
    * float32 at rest and on the wire) plus its grid params and the
    * decoded-vector norm, computed ONCE at build time. A plain
    * DataFrame: write to parquet, read back, search (Sq8Spec pins a
    * round-tripped index to search-identical results — the IvfAnnSpec
    * contract). `v` carries (vec_id, e: array<double>).
    *
    * scale is derived `(mx - mn) / 255.0` from the [[graft.functions.Sq8Stats]]
    * grid — the identical double op the encode kernel performs, so
    * decode(codes, mn, scale) reproduces `Sq8Roundtrip(e)` bit-for-bit. */
  def sq8Index(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      graft.functions.Sq8.statsColumn(col("e")).as("st"),
      graft.functions.Sq8.codesColumn(col("e")).as("codes"))
      .select(col("vec_id"),
        element_at(col("st"), 1).as("mn"),
        ((element_at(col("st"), 2) - element_at(col("st"), 1)) / 255.0)
          .as("scale"),
        col("codes"))
      .withColumn("dq",
        graft.functions.Sq8.decodeColumn(col("codes"), col("mn"), col("scale")))
      .withColumn("dnorm", sqrt(dot(col("dq"), col("dq"))))
      .drop("dq")

  /** Top-k cosine search against a prebuilt [[sq8Index]]. Each corpus
    * row decodes ONCE (below the join) via the codegen'd
    * [[graft.functions.Sq8Decode]] kernel; `queries` is a broadcastable
    * (query_id, qe: array<double>, qnorm) table — pass raw query
    * vectors for the standard asymmetric (ADC) search, or pre-decoded
    * ones for the fully symmetric mode (which Sq8Spec pins equal to
    * the emb_ann_sq query). Plan shape matches the exact probe:
    * corpus side never shuffles, top-k rides WindowGroupLimit. */
  def sq8Search(index: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(index.select(col("vec_id").as("neighbor_id"),
      graft.functions.Sq8.decodeColumn(col("codes"), col("mn"), col("scale"))
        .as("dq"),
      col("dnorm"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos", cosine(dot(col("dq"), col("qe")), col("dnorm"), col("qnorm"))),
      "qcos", k, "query_id", "neighbor_id", "rnk", "qcos")

  /** Near-dup pairs with cosine ≥ tau from a vector table carrying
    * (vec_id, e: array<double>, norm) plus any `carry` columns, which
    * come back suffixed `_a`/`_b` on each side of every pair. */
  def lshNearDupPairs(v: DataFrame, dim: Int, bands: Int, bitsPerBand: Int,
      tau: Double, carry: Seq[String] = Nil): DataFrame = {
    val pl = planes(bands * bitsPerBand, dim)
    def bit(p: Int): Column =
      when(dot(col("e"), array(pl(p).map(lit): _*)) >= 0, 1).otherwise(0)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        (0 until bitsPerBand).map(i => bit(bitsPerBand * b + i) * (1 << i))
          .reduce(_ + _).as("band_key"))
    }
    val bandRows = v.select(col("vec_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band_idx").as("band_idx"),
        col("bs.band_key").as("band_key"))
    val cand = bandRows.as("a")
      .join(bandRows.as("b"), Seq("band_idx", "band_key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    def side(suffix: String): DataFrame =
      v.select((Seq(col("vec_id").as(s"vec_$suffix"), col("e").as(s"e$suffix"),
        col("norm").as(s"n$suffix")) ++
        carry.map(c => col(c).as(s"${c}_$suffix"))): _*)
    cand.join(side("a"), "vec_a").join(side("b"), "vec_b")
      .withColumn("cos", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select((Seq(col("vec_a"), col("vec_b"), col("cos")) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))): _*)
  }
}
