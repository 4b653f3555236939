package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential test for the PQ fit/search machinery: at
  * iters = 1 the whole pipeline is deterministic (codebooks = the
  * seed subvectors, no mergeable-avg update), so an obvious
  * plain-Scala reference — same seeds, same argmin tie-break, same
  * fold associations — must reproduce the one-cell ivfPqSearch's
  * (neighbor set, rank
  * order, qcos bits) EXACTLY on random corpora of random shapes
  * (m ∈ {1,2,4,8}, dim = m·sub, kc ≤ or > n, duplicate vectors).
  * This exercises the dense lookup-table slot arithmetic
  * (s·kc + code), the empty-cluster zero-fill, and the zip_with fold
  * against an independent implementation — the failure modes the
  * fixed-dim corpus tests cannot distinguish from correct. */
class PqDifferentialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  /** Plain-Scala PQ at iters=1 + ADC search, mirroring every
    * arithmetic association of pqFit/ivfPqSearch. */
  private def reference(vecs: Seq[(Long, Array[Double])], dim: Int,
      m: Int, kc: Int, queries: Seq[Long], k: Int)
      : Seq[(Long, Long, Int, Long)] = {
    val sub = dim / m
    def slices(e: Array[Double]): Array[Array[Double]] =
      Array.tabulate(m)(s => e.slice(s * sub, (s + 1) * sub))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }
      s
    }
    // codebooks: seeds = subvectors of the kc lowest vec_ids
    val seeds = vecs.filter(_._1 < kc).sortBy(_._1)
    val cb: Map[Int, Seq[(Int, Array[Double], Double)]] =
      (0 until m).map { s =>
        s -> seeds.map { case (id, e) =>
          val ce = slices(e)(s); (id.toInt, ce, dot(ce, ce))
        }
      }.toMap
    // assignment: argmin see - 2 dot + scc, tie toward lower code,
    // scanning in collect_list order — which pqFit builds per subspace
    // from the seed rows; order-independent by the tie rule, so the
    // sorted order here is equivalent
    val codes: Map[Long, (Array[Int], Double)] = vecs.map { case (id, e) =>
      val sl = slices(e)
      val cs = Array.tabulate(m) { s =>
        val see = dot(sl(s), sl(s))
        var bestC = Int.MaxValue; var bestD = Double.MaxValue
        cb(s).foreach { case (c, ce, scc) =>
          val d2 = see - 2.0 * dot(sl(s), ce) + scc
          if (d2 < bestD || (d2 == bestD && c < bestC)) {
            bestC = c; bestD = d2
          }
        }
        bestC
      }
      // dnorm = sqrt(fold of chosen scc in s order from 0.0)
      var acc = 0.0
      (0 until m).foreach { s =>
        acc += cb(s).find(_._1 == cs(s)).get._3
      }
      id -> ((cs, math.sqrt(acc)))
    }.toMap
    val vmap = vecs.toMap
    queries.flatMap { q =>
      val qsl = slices(vmap(q))
      val qnorm = math.sqrt(dot(vmap(q), vmap(q)))
      val scored = vecs.filter(_._1 != q).map { case (id, _) =>
        val (cs, dnorm) = codes(id)
        var num = 0.0
        (0 until m).foreach { s =>
          num += dot(qsl(s), cb(s).find(_._1 == cs(s)).get._2)
        }
        (id, num / (dnorm * qnorm))
      }
      scored.sortBy { case (id, qcos) => (-qcos, id) }
        .take(k).zipWithIndex
        .map { case ((id, qcos), i) =>
          (q, id, i + 1, java.lang.Double.doubleToRawLongBits(qcos))
        }
    }
  }

  test("pqSearch == plain-Scala ADC reference on random corpora " +
    "(random m/dim/kc, duplicates included) — ranks and qcos bits") {
    val rnd = new scala.util.Random(42)
    try {
      for (trial <- 1 to 8) {
        val m = Seq(1, 2, 4, 8)(rnd.nextInt(4))
        val sub = 1 + rnd.nextInt(3)
        val dim = m * sub
        val n = 8 + rnd.nextInt(23)
        val kc = 1 + rnd.nextInt(n + 4) // sometimes > n
        // every element nonzero: zero subvectors would make dnorm or
        // qnorm 0 and qcos NaN, whose sort placement differs between
        // Spark (NaN largest, desc-first) and the reference
        val base = Seq.tabulate(n) { i =>
          (i.toLong, Array.fill(dim) {
            val v = rnd.nextInt(16) - 8
            (if (v >= 0) v + 1 else v) / 4.0
          })
        }
        // force duplicate vectors sometimes (codebook ties)
        val vecs = if (n > 4) base.updated(n - 1, (base(n - 1)._1, base(1)._2))
          else base
        val queries = Seq(0L, (n / 2).toLong)
        val df = vecs.map { case (id, e) => (id, e.toSeq) }
          .toDF("vec_id", "e")
        val idx = Similarity.pqFit(df, dim, m, kc, iters = 1)
        val qdf = broadcast(df.filter(col("vec_id").isin(queries: _*))
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
          .withColumn("qnorm",
            sqrt(graft.functions.DotProduct.column(col("qe"), col("qe")))))
        val got = Similarity.ivfPqSearch(idx, qdf, k = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
        val want = reference(vecs, dim, m, kc, queries, k = 5).toSet
        assert(got == want,
          s"trial $trial (m=$m dim=$dim n=$n kc=$kc):\n" +
            s"spark-only: ${got -- want}\nref-only: ${want -- got}")
        CacheScope.releaseAll()
      }
    } finally CacheScope.releaseAll()
  }
}
