package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVFADC: every vector lands in exactly one cell with in-range codes
  * and a finite decoded norm; probing all cells at the PQ-exact
  * setting recovers the brute-force neighbor sets (cell selection
  * exact + residual reconstruction exact); nprobe trades recall
  * monotonically; the 4-DataFrame artifact survives a parquet round
  * trip search-identically with stamped parameters. */
class IvfPqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  private val d = "/root/testdata/sf0.001"

  private def vecs: DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def queries(v: DataFrame, nQ: Int): DataFrame =
    broadcast(v.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .withColumn("qnorm",
        sqrt(graft.functions.DotProduct.column(col("qe"), col("qe")))))

  private def exactTopK(v: DataFrame, nQ: Int, k: Int): Set[(Long, Long)] = {
    val dotc = graft.functions.DotProduct.column _
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    v.select(col("vec_id").as("neighbor_id"), col("e"),
        sqrt(dotc(col("e"), col("e"))).as("norm"))
      .crossJoin(queries(v, nQ))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dotc(col("e"), col("qe")) / (col("norm") * col("qnorm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def searchPairs(idx: Similarity.IvfPqIndex, v: DataFrame,
      nQ: Int, k: Int, nprobe: Int): Set[(Long, Long)] =
    Similarity.ivfPqSearch(idx, queries(v, nQ), k, nprobe)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("codes are well-formed: one cell per vector, m in-range codes, " +
    "finite positive dnorm") {
    try {
      val idx = Similarity.ivfPqFit(vecs, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      val codes = idx.codes.cache()
      assert(codes.count() == 500)
      assert(codes.select("vec_id").distinct().count() == 500)
      val bad = codes.filter(size(col("codes")) =!= 8 ||
        exists(col("codes"), c => c < 0 || c >= 16) ||
        col("cluster") < 0 || col("cluster") >= 4 ||
        col("dnorm").isNull || isnan(col("dnorm")) ||
        col("dnorm") <= 0.0).count()
      assert(bad == 0)
      codes.unpersist()
    } finally CacheScope.releaseAll()
  }

  test("PQ-exact setting + nprobe = kCoarse recovers the brute-force " +
    "neighbor sets (cell selection exhaustive, residuals exact)") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      assert(searchPairs(idx, v, nQ = 5, k = 5, nprobe = 4) ==
        exactTopK(v, 5, 5))
    } finally CacheScope.releaseAll()
  }

  test("nprobe is the recall knob: monotone up to the exhaustive endpoint") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      val exact = exactTopK(v, 5, 5)
      val r1 = searchPairs(idx, v, 5, 5, nprobe = 1)
        .count(exact.contains).toDouble / exact.size
      val r4 = searchPairs(idx, v, 5, 5, nprobe = 4)
        .count(exact.contains).toDouble / exact.size
      info(f"ivfpq recall@5 nprobe=1: $r1%.3f nprobe=4: $r4%.3f")
      assert(r1 <= r4 && r4 == 1.0)
      assert(r1 > 0.0, "single-cell probe found nothing")
    } finally CacheScope.releaseAll()
  }

  test("search against a persisted index never shuffles the codes: " +
    "probe table broadcasts into a hash join on cluster, rank pruned " +
    "map-side before the one window exchange") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_plan").toString
      Similarity.saveIvfPqIndex(idx, dir)
      CacheScope.releaseAll()
      val re = Similarity.loadIvfPqIndex(spark, dir)
      val p = Similarity.ivfPqSearch(re, queries(v, 5), 5, nprobe = 2)
        .queryExecution.executedPlan.toString
      // corpus segment = everything above the scoring hash join (the
      // broadcast probe side prints below it): exactly the rank
      // window's partial+final WindowGroupLimit pair and its ONE
      // exchange — the codes scan feeds the join in place
      val joinAt = p.indexOf("BroadcastHashJoin")
      assert(joinAt > 0, p)
      val corpusSide = p.substring(0, joinAt)
      assert("WindowGroupLimit".r.findAllIn(corpusSide).size == 2, p)
      assert("Exchange hashpartitioning".r.findAllIn(corpusSide).size == 1,
        p)
    } finally CacheScope.releaseAll()
  }

  test("parquet round trip: reloaded index is search-identical and " +
    "carries its stamped parameters") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
      Similarity.saveIvfPqIndex(idx, dir)
      val re = Similarity.loadIvfPqIndex(spark, dir)
      assert(re.m == 8 && re.dim == 64 && re.kc == 16 && re.kCoarse == 4)
      assert(searchPairs(re, v, 5, 5, nprobe = 2) ==
        searchPairs(idx, v, 5, 5, nprobe = 2))
    } finally CacheScope.releaseAll()
  }

  test("ivfPqAppend: re-appending stripped rows reproduces the fit's own " +
    "code rows bit-for-bit, searches identically, and stamps staleness") {
    try {
      val v = vecs
      val full = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      // freeze the full fit's artifacts once: append must re-derive the
      // stripped rows against the SAME bytes the fit produced
      val fullCodes = graft.CacheScope.persistTracked(full.codes)
      def rows(df: DataFrame): Set[(Long, Int, Seq[Int], Double)] =
        df.collect().map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Int](2), r.getDouble(3))).toSet
      val fullRows = rows(fullCodes)
      val sub = full.copy(codes = fullCodes.filter(col("vec_id") < 400))
      val app = Similarity.ivfPqAppend(sub, v.filter(col("vec_id") >= 400))
      // bit-identical: same frozen cells + codebooks + argmin kernel +
      // dnorm fold ⇒ the appended rows ARE the fit's rows (doubles too)
      assert(rows(app.codes) == fullRows)
      assert(searchPairs(app, v, 5, 5, nprobe = 2) ==
        searchPairs(full, v, 5, 5, nprobe = 2))
      // staleness counter: 100 appended rows stamped into meta, and it
      // accumulates across appends (on a fresh-id second batch)
      assert(app.meta.select("n_appended").collect()(0).getLong(0) == 100L)
      val app2 = Similarity.ivfPqAppend(app,
        v.filter(col("vec_id") < 3).withColumn("vec_id", col("vec_id") + 1000))
      assert(app2.meta.select("n_appended").collect()(0).getLong(0) == 103L)
      // the appended artifact persists and reloads search-identically
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
      Similarity.saveIvfPqIndex(app, dir)
      val re = Similarity.loadIvfPqIndex(spark, dir)
      assert(searchPairs(re, v, 5, 5, nprobe = 2) ==
        searchPairs(app, v, 5, 5, nprobe = 2))
      assert(re.meta.select("n_appended").collect()(0).getLong(0) == 100L)
    } finally CacheScope.releaseAll()
  }

  test("ivfPqAppend at the PQ-exact endpoint: append-then-search equals " +
    "refit-search equals brute force (nprobe exhaustive)") {
    try {
      val v = vecs
      // appended batch = copies of vectors 0..99 under fresh ids: a
      // copy lands in its original's cell (same argmin) with the same
      // residual, whose exact code the kc ≥ |corpus| codebook already
      // carries — so the APPENDED index is exact over the grown corpus,
      // and append-then-search, refit-at-exact, and brute force must
      // agree as hard equalities
      val dup = v.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 1000)
      val v2 = v.unionByName(dup)
      val fitV = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      val app = Similarity.ivfPqAppend(fitV, dup)
      val refit = Similarity.ivfPqFit(v2, dim = 64, m = 8, kc = 600,
        kCoarse = 4, iters = 2)
      val exact = exactTopK(v2, 5, 5)
      assert(searchPairs(app, v2, 5, 5, nprobe = 4) == exact)
      assert(searchPairs(refit, v2, 5, 5, nprobe = 4) == exact)
    } finally CacheScope.releaseAll()
  }

  test("needsRefit: fires when appended/base exceeds the threshold, " +
    "never on a fresh fit, and survives the artifact round-trip") {
    try {
      val v = vecs
      val fresh = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 1)
      assert(!Similarity.needsRefit(fresh))
      assert(!Similarity.needsRefit(fresh, maxAppendFraction = 0.001))
      // append 100 onto a 500-row base: fraction 0.2
      val dup = v.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 1000)
      val app = Similarity.ivfPqAppend(fresh, dup)
      assert(!Similarity.needsRefit(app, maxAppendFraction = 0.5))
      assert(Similarity.needsRefit(app, maxAppendFraction = 0.1))
      // boundary: fraction == threshold does NOT fire (strict >)
      assert(!Similarity.needsRefit(app, maxAppendFraction = 0.2))
      // the verdict reads persisted meta the same way
      val dir = java.nio.file.Files.createTempDirectory("needsrefit")
      try {
        Similarity.saveIvfPqIndex(app, dir.toString)
        val re = Similarity.loadIvfPqIndex(spark, dir.toString)
        assert(Similarity.needsRefit(re, maxAppendFraction = 0.1))
        assert(!Similarity.needsRefit(re, maxAppendFraction = 0.5))
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(dir)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
      require(!Similarity.needsRefit(fresh, 0.5))
      intercept[IllegalArgumentException] {
        Similarity.needsRefit(fresh, maxAppendFraction = 0.0)
      }
    } finally CacheScope.releaseAll()
  }

  test("bulk = true (non-broadcast query side) is bit-identical to " +
    "bulk = false on the same lossy index, for every corpus vector as " +
    "a query") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      val allQ = v.select(col("vec_id").as("query_id"), col("e").as("qe"))
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct.column(col("qe"), col("qe"))))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long, Int)] =
        df.select("query_id", "neighbor_id", "rnk", "qcos", "cluster")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            r.getInt(4))).toSet
      val bulk = rows(Similarity.ivfPqSearch(idx, allQ, k = 5, nprobe = 2,
        bulk = true))
      val bcast = rows(Similarity.ivfPqSearch(idx, broadcast(allQ),
        k = 5, nprobe = 2))
      assert(bulk == bcast,
        s"bulk-only: ${(bulk -- bcast).take(3)}, " +
          s"bcast-only: ${(bcast -- bulk).take(3)}")
      assert(bulk.nonEmpty)
    } finally CacheScope.releaseAll()
  }

  test("bulk search exact endpoint: kc >= corpus + exhaustive nprobe " +
    "builds the EXACT kNN graph; the bulk refine re-ranks identically " +
    "to the broadcast refine") {
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      val allQ = v.select(col("vec_id").as("query_id"), col("e").as("qe"))
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct.column(col("qe"), col("qe"))))
      val graph = Similarity.ivfPqSearch(idx, allQ, k = 5, nprobe = 4,
          bulk = true)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(graph == exactTopK(v, nQ = 1000000, k = 5))
      // bulk refine of a lossy bulk shortlist == broadcast refine of
      // the same shortlist (both exact-cosine re-ranks, same rows)
      val lossy = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 8,
        kCoarse = 4, iters = 2)
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      val bulkRef = rows(Similarity.ivfPqSearchRefine(lossy, allQ, v,
        k = 5, kShort = 20, nprobe = 2, bulk = true))
      val bcastRef = rows(Similarity.ivfPqSearchRefine(lossy,
        broadcast(allQ), v, k = 5, kShort = 20, nprobe = 2))
      assert(bulkRef == bcastRef)
    } finally CacheScope.releaseAll()
  }

  test("ivfPqSearchRefine: exhaustive-probe + full shortlist reproduces " +
    "brute force over a hard-lossy index; narrow probes never lose " +
    "recall to the refine stage") {
    try {
      val v = vecs
      // kc = 8 residual codes: heavy quantization so the ADC ordering
      // is genuinely wrong before refine
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 8,
        kCoarse = 4, iters = 2)
      val got = Similarity.ivfPqSearchRefine(idx, queries(v, 5), v,
          k = 5, kShort = 1000, nprobe = 4)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exactTopK(v, 5, 5))
      val exact = exactTopK(v, 5, 5)
      def recall(pairs: Set[(Long, Long)]): Double =
        pairs.count(exact.contains).toDouble / exact.size
      val adc = searchPairs(idx, v, 5, 5, nprobe = 2)
      val ref = Similarity.ivfPqSearchRefine(idx, queries(v, 5), v,
          k = 5, kShort = 50, nprobe = 2)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      info(f"ivfpq kc=8 recall@5 nprobe=2: adc ${recall(adc)}%.3f -> " +
        f"refined(kShort=50) ${recall(ref)}%.3f")
      assert(recall(ref) >= recall(adc))
    } finally CacheScope.releaseAll()
  }
}
