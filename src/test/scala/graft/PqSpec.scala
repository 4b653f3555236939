package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: codes stay in range, compression is real
  * (m bytes of codes per vector), the provably-exact endpoint
  * (kc ≥ #distinct subvectors ⇒ ADC ≡ brute force) holds, the index
  * survives a parquet round trip with stamped parameters, and recall
  * at a lossy setting is measured, not assumed. */
class PqSpec extends AnyFunSuite {

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

  /** Exact cosine top-k (query_id, neighbor_id, rnk) — the baseline. */
  private def exactTopK(v: DataFrame, nQ: Int, k: Int): Set[(Long, Long, Int)] = {
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
      .select("query_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("codes are m ints in [0, kc); cluster usage is non-degenerate") {
    try {
      val idx = Similarity.pqFit(vecs, dim = 64, m = 8, kc = 16, iters = 2)
      val bad = idx.codes.filter(size(col("codes")) =!= 8 ||
        exists(col("codes"), c => c < 0 || c >= 16)).count()
      assert(bad == 0)
      // every subspace uses more than one code on real data
      val usage = idx.codes
        .select(posexplode(col("codes")).as(Seq("s", "code")))
        .groupBy("s").agg(countDistinct("code").as("u"))
        .collect().map(r => r.getAs[Long]("u"))
      assert(usage.forall(_ > 1), usage.mkString(","))
    } finally CacheScope.releaseAll()
  }

  test("provably-exact endpoint: kc >= corpus size + iters=1 reproduces " +
    "brute-force cosine top-k exactly") {
    try {
      val v = vecs
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 500, iters = 1)
      val got = Similarity.ivfPqSearch(idx, queries(v, 5), k = 5)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == exactTopK(v, 5, 5))
    } finally CacheScope.releaseAll()
  }

  /** (kc, query_id, neighbor_id, rnk, raw qcos bits in hex) of the flat
    * PQ search at iters = 1 (deterministic: codebooks are the seed
    * subvectors), m = 8, five queries — captured from the coarse-free
    * PqIndex search before flat PQ became the one-cell IvfPqIndex. */
  private val flatPqRows: Set[String] = """
    |500,0,12,3,3fd3e7dec395b531
    |500,0,17,1,3fd567bb5162f6c8
    |500,0,225,2,3fd42b0bf0eec7da
    |500,0,260,5,3fd31d65395d358a
    |500,0,483,4,3fd33a97c0cbd03d
    |500,1,129,3,3fd67ea564ff3e1e
    |500,1,209,2,3fd86b3625fc1b5a
    |500,1,257,1,3fd912a10a3f6ba3
    |500,1,376,4,3fd3820653301841
    |500,1,440,5,3fd327c6df10abd1
    |500,2,62,2,3fd28f4e604932a6
    |500,2,91,5,3fd1d9c188413e1f
    |500,2,185,4,3fd21bb32c690019
    |500,2,246,3,3fd28b9a9905d2ec
    |500,2,443,1,3fd6e267f6f11ac3
    |500,3,84,4,3fd47560fd042540
    |500,3,205,2,3fd58ac427d06c2f
    |500,3,212,3,3fd47650ce09cc8c
    |500,3,223,1,3fd5d18ee3e940c2
    |500,3,426,5,3fd42a91badc12eb
    |500,4,57,5,3fd31eaaadec2d5b
    |500,4,98,2,3fd5bebfdc36943c
    |500,4,143,3,3fd519fb26646902
    |500,4,343,4,3fd3fee66d25777f
    |500,4,345,1,3fd7ff09f020b80a
    |8,0,19,3,3fe1aa56195389e8
    |8,0,67,6,3fe0596f6134662d
    |8,0,71,9,3fddb00aa204761f
    |8,0,73,1,3fe32dd6a6de857e
    |8,0,212,7,3fe032370ca7397f
    |8,0,225,2,3fe270b64dc65e38
    |8,0,332,5,3fe066ee11d46a43
    |8,0,348,10,3fdd8ccaa6595fd1
    |8,0,405,8,3fdf361865bfb2cf
    |8,0,483,4,3fe1164fad6e0ae4
    |8,1,64,7,3fdc16ef28ac375b
    |8,1,70,6,3fdd5a3295b547c0
    |8,1,129,9,3fdb66b6329def8a
    |8,1,192,5,3fdefbc6586a2784
    |8,1,242,3,3fe1125d03ee40d9
    |8,1,247,1,3fe8203f2d58942a
    |8,1,257,2,3fe4453ee84202a5
    |8,1,292,4,3fdf0c36810ef581
    |8,1,449,8,3fdc07f1cf099fd7
    |8,1,482,10,3fdafd4863ab04c7
    |8,2,94,3,3fe15b13f8d9e528
    |8,2,96,5,3fe08923d8f99cdf
    |8,2,154,7,3fdc35f81591948a
    |8,2,166,4,3fe0ba5b5b03fc5e
    |8,2,283,9,3fdc24e6d44d705f
    |8,2,399,6,3fde048c773ad965
    |8,2,409,2,3fe249dcab68231b
    |8,2,441,8,3fdc2ef83caf0d7a
    |8,2,443,1,3fe3714806e89153
    |8,2,497,10,3fdbd3babd0d5331
    |8,3,27,1,3fe5846637ac7a69
    |8,3,72,3,3fe183e2a288a2ca
    |8,3,108,9,3fdd285a38954b4d
    |8,3,156,2,3fe4c9cc87ff86c6
    |8,3,212,7,3fde7f2f64be2d68
    |8,3,273,5,3fe00f69678c8d60
    |8,3,278,8,3fddc7e7524cb4f3
    |8,3,362,6,3fdfcfb34367ed84
    |8,3,426,4,3fe1108982b9afe9
    |8,3,446,10,3fdca1883c7c0b2e
    |8,4,62,2,3fe1365eb17b0d95
    |8,4,186,10,3fdcc89470a708dd
    |8,4,195,7,3fdcfcc939d3268a
    |8,4,214,5,3fdf13ac6a3235da
    |8,4,220,8,3fdcf85c4a1cded8
    |8,4,229,1,3fe14fbfde323fd0
    |8,4,325,3,3fe0ce2dcccd843b
    |8,4,345,6,3fdd0c8fff85ea97
    |8,4,401,9,3fdcd7e62dbe5351
    |8,4,429,4,3fe09a77ff46700e
    |4,0,19,4,3fe77c578edb33a2
    |4,0,28,10,3fe4dc9a9e515dc0
    |4,0,73,9,3fe51a491b408487
    |4,0,225,8,3fe5cc942c2eb396
    |4,0,276,5,3fe7617eeef49562
    |4,0,299,7,3fe66be4b7e562b7
    |4,0,306,2,3fe8c14cb046e794
    |4,0,320,6,3fe67e6a2623a5e1
    |4,0,435,3,3fe8a350a2a42aa5
    |4,0,468,1,3feab270cfa99815
    |4,1,21,4,3fe71eba109b3bc4
    |4,1,162,7,3fe4c6156aa4d1bf
    |4,1,209,3,3fe8baa0cb7031f6
    |4,1,224,10,3fe3fb6e30dee207
    |4,1,229,6,3fe55bbd8fc00d47
    |4,1,247,1,3feba235e6d4f3b4
    |4,1,257,2,3fea348bbc1f998f
    |4,1,440,9,3fe412bd21f38c2a
    |4,1,455,8,3fe457b691676473
    |4,1,495,5,3fe5e73d72139c4a
    |4,2,43,9,3fe461bca5fc0576
    |4,2,44,1,3fe8e254089c69a5
    |4,2,85,3,3fe7893963864cc1
    |4,2,96,6,3fe4ce480a7b7cc7
    |4,2,246,2,3fe89b5694f30daf
    |4,2,283,8,3fe4943fa442ae0e
    |4,2,333,4,3fe5d74f64279cf8
    |4,2,373,7,3fe49872864a2133
    |4,2,494,5,3fe5bf43822c9a22
    |4,2,497,10,3fe427e26488049c
    |4,3,72,8,3fe5cdec237baf2b
    |4,3,83,5,3fe65da91ea8be17
    |4,3,100,2,3fe8161a1cb52a80
    |4,3,108,9,3fe5abc2837cebc3
    |4,3,156,1,3fe8f0e0650d8092
    |4,3,215,7,3fe5df0e5166180c
    |4,3,303,3,3fe800fad2b92e1c
    |4,3,318,10,3fe5a7ffa37886e6
    |4,3,362,6,3fe65d36ca3d65c5
    |4,3,478,4,3fe7d24c2c3236e6
    |4,4,1,1,3fc33be1ed9cda91
    |4,4,64,6,3fbf410c3ab721ef
    |4,4,70,7,3fbe8d5b4f202501
    |4,4,143,5,3fc1c49274f75e70
    |4,4,229,2,3fc25dfe6b93986f
    |4,4,237,3,3fc25cfe21bb7fe1
    |4,4,257,8,3fbe663d2b938ba5
    |4,4,267,10,3fbd85a6dbf60370
    |4,4,440,4,3fc22415cd3093c8
    |4,4,459,9,3fbdce3b0c9b178f""".stripMargin.trim.split("\n").toSet

  test("one-cell index searches bit-identically to the coarse-free " +
    "flat PQ search it replaced (captured rows, qcos bits included)") {
    try {
      val v = vecs
      val got = Seq((500, 5), (8, 10), (4, 10)).flatMap { case (kc, k) =>
        val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = kc, iters = 1)
        assert(idx.kCoarse == 1)
        Similarity.ivfPqSearch(idx, queries(v, 5), k = k).collect().map(r =>
          s"$kc,${r.getLong(0)},${r.getLong(1)},${r.getInt(2)}," +
            java.lang.Long.toHexString(
              java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      }.toSet
      assert(got == flatPqRows,
        s"new-only: ${(got -- flatPqRows).take(5)}; " +
          s"flat-only: ${(flatPqRows -- got).take(5)}")
    } finally CacheScope.releaseAll()
  }

  test("parquet round trip: reloaded index is search-identical and " +
    "carries its stamped parameters") {
    try {
      val v = vecs
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 16, iters = 2)
      val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
      Similarity.saveIvfPqIndex(idx, dir)
      val re = Similarity.loadIvfPqIndex(spark, dir)
      assert(re.m == 8 && re.dim == 64)
      val a = Similarity.ivfPqSearch(idx, queries(v, 5), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val b = Similarity.ivfPqSearch(re, queries(v, 5), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == b)
    } finally CacheScope.releaseAll()
  }

  test("load fails fast on a codes/meta width mismatch (ADVICE r15: " +
    "stamped meta alone cannot catch a mixed-artifact dir)") {
    try {
      val v = vecs
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 16, iters = 1)
      val dir = java.nio.file.Files.createTempDirectory("pq_bad").toString
      Similarity.saveIvfPqIndex(idx, dir)
      // overwrite codes with a different-m artifact: meta still says 8
      val idx4 = Similarity.pqFit(v, dim = 64, m = 4, kc = 16, iters = 1)
      idx4.codes.write.mode("overwrite").parquet(s"$dir/codes")
      val e = intercept[IllegalArgumentException] {
        Similarity.loadIvfPqIndex(spark, dir)
      }
      assert(e.getMessage.contains("stamped m=8"), e.getMessage)
    } finally CacheScope.releaseAll()
  }

  test("non-dense vec_id space seeds correctly (ADVICE r15: offset ids " +
    "must not produce an empty codebook)") {
    try {
      // shift every id by 1000: under the old `vec_id < kc` seeding the
      // codebook would be EMPTY and every assignment the sentinel
      val v = vecs.withColumn("vec_id", col("vec_id") + 1000L)
      val idx = Similarity.pqFit(v, dim = 64, m = 4, kc = 8, iters = 1)
      assert(idx.codebooks.count() > 0)
      // code labels are seed RANKS — they must stay inside [0, kc)
      // even when the ids themselves are far larger
      val bad = idx.codes.filter(size(col("codes")) =!= 4 ||
        exists(col("codes"), c => c < 0 || c >= 8)).count()
      assert(bad == 0)
    } finally CacheScope.releaseAll()
  }

  test("ivfPqAppend on a pqFit index: re-appending stripped rows " +
    "reproduces the fit's own code rows bit-for-bit, searches identically, " +
    "and stamps staleness") {
    try {
      val v = vecs
      val full = Similarity.pqFit(v, dim = 64, m = 8, kc = 16, iters = 3)
      val fullCodes = graft.CacheScope.persistTracked(full.codes)
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int], Double)] =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2),
          r.getDouble(3))).toSet
      val fullRows = rows(fullCodes)
      val sub = full.copy(codes = fullCodes.filter(col("vec_id") < 400))
      val app = Similarity.ivfPqAppend(sub, v.filter(col("vec_id") >= 400))
      assert(rows(app.codes) == fullRows)
      def pairs(idx: Similarity.IvfPqIndex): Set[(Long, Long)] =
        Similarity.ivfPqSearch(idx, queries(v, 5), k = 5)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(app) == pairs(full))
      assert(app.meta.select("n_appended").collect()(0).getLong(0) == 100L)
    } finally CacheScope.releaseAll()
  }

  test("lossy recall at m=8 kc=16 is measured and nontrivial") {
    try {
      val v = vecs
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 16, iters = 3)
      val got = Similarity.ivfPqSearch(idx, queries(v, 5), k = 10)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = exactTopK(v, 5, 10).map(t => (t._1, t._2))
      val recall = got.count(exact.contains).toDouble / exact.size
      info(f"pq m=8 kc=16 recall@10 = $recall%.3f")
      assert(recall >= 0.2, f"recall $recall%.3f collapsed")
    } finally CacheScope.releaseAll()
  }

  test("refine exact endpoint: kShort >= corpus reproduces brute-force " +
    "top-k exactly even over a hard-lossy index") {
    try {
      val v = vecs
      // kc = 4 quantizes brutally — the shortlist covers the whole
      // corpus, so the exact re-rank must recover brute force no
      // matter how bad the ADC ordering underneath was
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 4, iters = 1)
      val got = Similarity.ivfPqSearchRefine(idx, queries(v, 5), v,
          k = 5, kShort = 1000)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == exactTopK(v, 5, 5))
    } finally CacheScope.releaseAll()
  }

  test("refine: results come from the ADC shortlist and carry the EXACT " +
    "cosine bit-for-bit; recall never drops below the unrefined search") {
    try {
      val dotc = graft.functions.DotProduct.column _
      val v = vecs
      val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 8, iters = 1)
      val q = queries(v, 5)
      val short = Similarity.ivfPqSearch(idx, q, k = 50)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val refined = Similarity.ivfPqSearchRefine(idx, q, v, k = 10, kShort = 50)
      val refRows = refined.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(refRows.forall(t => short.contains((t._1, t._2))))
      // qcos must be the exact cosine, not the ADC approximation:
      // recompute independently with the brute-force arithmetic
      val exactCos = v.select(col("vec_id").as("neighbor_id"), col("e"),
          sqrt(dotc(col("e"), col("e"))).as("norm"))
        .crossJoin(q)
        .withColumn("cos", dotc(col("e"), col("qe")) / (col("norm") * col("qnorm")))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      refRows.foreach { case (qid, nid, qcos) =>
        assert(java.lang.Double.doubleToLongBits(qcos) ==
          java.lang.Double.doubleToLongBits(exactCos((qid, nid))),
          s"($qid,$nid): refined $qcos != exact ${exactCos((qid, nid))}")
      }
      val exact = exactTopK(v, 5, 10).map(t => (t._1, t._2))
      def recall(got: Set[(Long, Long)]): Double =
        got.count(exact.contains).toDouble / exact.size
      val adc = Similarity.ivfPqSearch(idx, q, k = 10)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rAdc = recall(adc)
      val rRef = recall(refRows.map(t => (t._1, t._2)).toSet)
      info(f"kc=8 recall@10: adc $rAdc%.3f -> refined(kShort=50) $rRef%.3f")
      assert(rRef >= rAdc, f"refine dropped recall: $rAdc%.3f -> $rRef%.3f")
    } finally CacheScope.releaseAll()
  }

  test("refine plan: raw vectors join the broadcast shortlist IN PLACE — " +
    "the only exchange above the candidate join is the final rank " +
    "window over nQ*kShort rows") {
    try {
      val v = vecs
      val dir = java.nio.file.Files.createTempDirectory("pqr_plan").toString
      Similarity.saveIvfPqIndex(
        Similarity.pqFit(v, dim = 64, m = 8, kc = 8, iters = 1), dir)
      CacheScope.releaseAll()
      val idx = Similarity.loadIvfPqIndex(spark, dir)
      val p = Similarity.ivfPqSearchRefine(idx, queries(v, 5), v,
          k = 5, kShort = 20)
        .queryExecution.executedPlan.toString
      // refine segment = everything above the first BroadcastHashJoin
      // (the shortlist/query sides print below it): exactly the final
      // rank window's ONE exchange, and NO scan — the raw vectors
      // feed the join in place, never hash-shuffled on vec_id
      val joinAt = p.indexOf("BroadcastHashJoin")
      assert(joinAt > 0, p)
      val refineSide = p.substring(0, joinAt)
      assert("Exchange hashpartitioning".r.findAllIn(refineSide).size == 1, p)
      assert(!refineSide.contains("FileScan"), p)
      assert(!p.contains("SortMergeJoin (vec_id"), p)
    } finally CacheScope.releaseAll()
  }

  test("refine rejects kShort < k") {
    val v = vecs
    val idx = Similarity.pqFit(v, dim = 64, m = 8, kc = 4, iters = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchRefine(idx, queries(v, 2), v, k = 10, kShort = 5)
    }
    assert(e.getMessage.contains("kShort"), e.getMessage)
    CacheScope.releaseAll()
  }
}
