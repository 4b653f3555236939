package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based semantic deduplication — the cluster-FREE form of
  * SemDeDup (Abbas et al. 2023 approximate semantic dedup with a
  * k-means partition first; here the duplicate groups emerge from the
  * kNN graph itself, so no cluster boundary can separate a true
  * near-duplicate pair): mutual-kNN edges at a cosine threshold →
  * connected components → keep the smallest id per component (the
  * canonical-selection rule the text-dedup family already uses).
  *
  * Input graph rows are bulk [[Similarity.ivfPqSearch]] output —
  * (query_id, neighbor_id, qcos, …) with query_id ranging over the
  * whole corpus — or any equivalently-shaped kNN edge list (e.g. an
  * exact brute-force graph; GraphDedupSpec pins the two equal at the
  * exact-index endpoint).
  *
  * Mutuality is the standard robustness filter (Brito et al. 1997
  * mutual-kNN consistency): a hub vector that appears in thousands of
  * top-k lists contributes an edge only toward neighbors it
  * reciprocates, so hubs cannot glue unrelated regions into one
  * mega-component. The qcos ≥ τ gate is evaluated on BOTH directions'
  * scores; under an exact graph they coincide, under a lossy ADC
  * graph each direction is scored from its own query's lookup table,
  * and requiring both keeps the verdict symmetric.
  *
  * 100 TB scale notes:
  * - The graph is n·k rows of ids+doubles — vectors and documents
  *   never enter this operator. The mutual join is a self equi-join
  *   on the reversed key pair, shuffled by (query_id, neighbor_id):
  *   2·n·k rows, no skew amplification (each side contributes at most
  *   k rows per key by construction).
  * - Components run on the surviving mutual edges (≤ n·k/2, sparse in
  *   practice) through [[ConnectedComponents.assign]]'s
  *   large-star/small-star loop — O(log² n) rounds over an edge list,
  *   per-round state one (Long, Long) frame.
  * - The keep verdict is a projection (id == component-min by the CC
  *   labeling), and membership counts partial-aggregate map-side.
  */
object GraphDedup {

  /** Mutual-kNN edge list from a directed kNN graph: (u, v) with
    * u < v, kept iff v ∈ kNN(u) ∧ u ∈ kNN(v) and BOTH directed scores
    * pass `tau`. Output columns (u, v, qcos_uv, qcos_vu). */
  def mutualKnnEdges(graph: DataFrame, tau: Double): DataFrame = {
    val fwd = graph.select(col("query_id").as("u"),
      col("neighbor_id").as("v"), col("qcos").as("qcos_uv"))
      .filter(col("u") < col("v") && col("qcos_uv") >= tau)
    val rev = graph.select(col("neighbor_id").as("u"),
      col("query_id").as("v"), col("qcos").as("qcos_vu"))
      .filter(col("u") < col("v") && col("qcos_vu") >= tau)
    fwd.join(rev, Seq("u", "v"))
  }

  /** Semantic-dedup verdict per node: component label (= smallest id
    * in the duplicate group), group size, and keep = canonical
    * (smallest id — deterministic, replayable). `nodes` is the full
    * id universe (one `id` column); isolated nodes form singleton
    * components and are always kept. */
  def knnGraphDedup(graph: DataFrame, nodes: DataFrame,
      tau: Double): DataFrame = {
    val edges = mutualKnnEdges(graph, tau).select("u", "v")
    val comp = ConnectedComponents.assign(edges)
    val labeled = nodes.join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    // Membership count: two shapes, same longs (r22, ADVICE r21).
    //
    // DEFAULT — count().over(Window.partitionBy(component)): one hash
    // exchange on the key the rows already carry. CAVEAT (the ADVICE
    // r21 skew note, measured honestly): a window partition cannot be
    // split by AQE, so ONE task buffers (and, past memory, spills) a
    // whole component's rows — a mega-component (dedup's canonical
    // skew case: a boilerplate page duplicated across a crawl)
    // serializes its count on one core. The mutual-kNN gate bounds
    // DEGREE (≤ k edges per node) but not component size, so the risk
    // is real at 100 TB even if absent at verification scale.
    //
    // OPT-IN — spark.graft.dedup.skewSafeCounts=true: partial-
    // aggregating groupBy + equi-join back. Counts combine map-side,
    // the join streams, and AQE's skew-join split CAN split the hot
    // component's partition. Costs 2 extra id-sized exchanges (+3
    // scheduled jobs ≈ +0.3 s per consumer at demo scale — why it is
    // not the default here); at corpus scale those exchanges carry id
    // rows only. Deployments expecting mega-components should set it.
    // GraphDedupSpec pins the two shapes to identical rows.
    val skewSafe = labeled.sparkSession.conf
      .getOption("spark.graft.dedup.skewSafeCounts").exists(_.toBoolean)
    val counted =
      if (skewSafe) {
        val sizes = labeled.groupBy("component")
          .agg(count(lit(1)).as("n_members"))
        labeled.join(sizes, "component")
      } else labeled.withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")))
    counted
      .select(col("id"), col("component"), col("n_members"),
        (col("id") === col("component")).as("keep"))
  }

  /** Diversity sampling over the kNN graph (r19 — the graph's third
    * consumer, after dedup and the kNN join): select one PROTOTYPE
    * per dense neighborhood at a similarity floor `tau` LOWER than
    * the dedup threshold — the data-pruning curation pass that keeps
    * coverage while thinning redundant regions (the prototype-based
    * selection of Sorscher et al. 2022's "Beyond neural scaling
    * laws"; the classical objective is the k-center coreset of Sener
    * & Savarese 2018, whose greedy is inherently sequential — this is
    * its one-round parallel relaxation).
    *
    * Rule: every node's representative is the SMALLEST id in its
    * closed neighborhood (itself ∪ its mutual-kNN neighbors at tau);
    * the selected set is the set of representatives. Deterministic,
    * replayable, and by construction a DOMINATING SET of the
    * tau-graph: every node is a prototype or directly adjacent to
    * one, so no neighborhood loses coverage (the guarantee that
    * distinguishes this from dedup, which drops ALL non-canonical
    * members of a component — here a long chain keeps intermediate
    * prototypes instead of collapsing to one). Not an independent
    * set: two adjacent prototypes can both be someone's neighborhood
    * minimum; coverage, not sparsity, is the contract.
    *
    * 100 TB shape: mutual edges are ≤ k rows per node per side (the
    * [[mutualKnnEdges]] bound), the neighborhood-min is one
    * partial-aggregating groupBy over id+id rows, and the membership
    * join is id-keyed — vectors and documents never enter. */
  /** A reloaded verdict artifact: `verdicts` is the component map
    * ((id, component, n_members, keep) — [[knnGraphDedup]] output),
    * `meta` one stamped row carrying the dedup tau plus the SOURCE
    * GRAPH's stamp (k, nprobe, n_nodes, n_edges, n_appended) at
    * compute time, and honest counts of the materialized verdicts. */
  final case class DedupVerdicts(tau: Double, verdicts: DataFrame,
      meta: DataFrame)

  private val VerdictCols = Seq("id", "component", "n_members", "keep")
  private val GraphStampCols =
    Seq("k", "nprobe", "n_nodes", "n_edges", "n_appended")

  /** Persist a [[knnGraphDedup]] component map (r20 — the graph
    * family's remaining derived product: CC is the expensive tail of
    * every dedup pass, and canonical selection / diversity / mixture
    * consumers only need the VERDICTS): parquet verdicts + a 1-row
    * meta stamping the dedup `tau` and the source graph's
    * [[KnnGraph]] meta, so [[needsRecompute]] can answer "is this
    * verdict map still the current graph's?" from two 1-row reads.
    * Counts are taken from the MATERIALIZED verdicts (re-read after
    * write — the [[KnnGraph.save]] honesty convention). */
  def saveVerdicts(verdicts: DataFrame, tau: Double,
      graphMeta: DataFrame, dir: String): Unit = {
    val have = verdicts.columns.toSet
    require(VerdictCols.forall(have),
      s"GraphDedup.saveVerdicts: verdict frame must carry " +
        s"${VerdictCols.mkString(", ")}; got ${verdicts.columns.mkString(", ")}")
    val gHave = graphMeta.columns.toSet
    require(GraphStampCols.forall(gHave),
      s"GraphDedup.saveVerdicts: graph meta must carry " +
        s"${GraphStampCols.mkString(", ")}; got ${graphMeta.columns.mkString(", ")}")
    val v = verdicts.select(VerdictCols.map(col): _*)
    v.write.mode("overwrite").parquet(s"$dir/verdicts")
    v.sparkSession.read.parquet(s"$dir/verdicts")
      .agg(count(lit(1)).as("n_ids"),
        countDistinct(col("component")).as("n_components"))
      .crossJoin(graphMeta.select(GraphStampCols.map(col): _*))
      .select((lit(tau).as("tau") +: col("n_ids") +: col("n_components")
        +: GraphStampCols.map(col)): _*)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadVerdicts(spark: SparkSession, dir: String): DedupVerdicts = {
    val meta = spark.read.parquet(s"$dir/meta")
    val row = meta.select("tau").collect()
    require(row.length == 1,
      s"GraphDedup.loadVerdicts: malformed meta at $dir/meta")
    val v = spark.read.parquet(s"$dir/verdicts")
    val have = v.columns.toSet
    require(VerdictCols.forall(have),
      s"GraphDedup.loadVerdicts: verdict frame at $dir/verdicts must " +
        s"carry ${VerdictCols.mkString(", ")}; got ${v.columns.mkString(", ")}")
    DedupVerdicts(row(0).getDouble(0), v, meta)
  }

  /** True when `v` was computed over a DIFFERENT graph state than
    * `g`'s current meta — any drift in the stamped (k, nprobe,
    * n_nodes, n_edges, n_appended) quintuple means the component map
    * no longer describes the graph (a fold of new deltas changes
    * n_appended/n_edges; a rebuild changes n_nodes). Answers from the
    * two 1-row metas alone. */
  def needsRecompute(v: DedupVerdicts,
      g: KnnGraph.KnnGraphArtifact): Boolean = {
    def stamp(df: DataFrame): Seq[Any] = {
      val r = df.select(GraphStampCols.map(col): _*).collect()
      require(r.length == 1, "needsRecompute: malformed meta")
      GraphStampCols.indices.map(r(0).get)
    }
    stamp(v.meta) != stamp(g.meta)
  }

  def diversityPrototypes(graph: DataFrame, nodes: DataFrame,
      tau: Double): DataFrame = {
    val e = mutualKnnEdges(graph, tau).select("u", "v")
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val nbrMin = sym.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("nmin"))
    val rep = nodes.join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("nmin"), col("id"))).as("rep"))
    val sel = rep.select(col("rep").as("id")).distinct()
      .withColumn("sel", lit(true))
    rep.join(sel, Seq("id"), "left")
      .select(col("id"), col("rep"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }
}
