package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one ANN index shape: flat PQ is the one-cell IvfPqIndex, so the
  * coarse-free index type and its duplicate search/refine/append/
  * persistence paths must not come back under src/main, and every
  * cosine in Similarity goes through its one zero-norm-safe helper.
  * ScaleProbe fits, saves and reloads every index through one helper
  * and runs every stream probe through one listener and poll loop. */
class AnnGuardSpec extends AnyFunSuite {

  import SourceScan.mainSources

  test("no second PQ index type or duplicate ANN path under src/main") {
    val gone = Seq("PqIndex", "pqSearch", "pqSearchRefine", "pqAppend",
      "savePqIndex", "loadPqIndex", "ivfPqKnnJoin", "refineExactBulk")
    val hits = for {
      (p, src) <- mainSources()
      name <- gone if s"\\b$name\\b".r.findFirstIn(src).isDefined
    } yield s"$p uses $name"
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("ScaleProbe has one index fit-save, one stream listener and one " +
    "poll loop") {
    val (_, src) = mainSources()
      .find(_._1.endsWith("graft/ScaleProbe.scala")).get
    for (call <- Seq("saveIvfPqIndex(", "new RowsListener", "Thread.sleep(")) {
      val n = java.util.regex.Pattern.quote(call).r.findAllIn(src).size
      assert(n == 1, s"ScaleProbe has $n copies of `$call`")
    }
  }

  test("Similarity divides a cosine only inside its one helper") {
    val (_, src) = mainSources()
      .find(_._1.endsWith("graft/operators/Similarity.scala")).get
    assert("private def cosine\\(".r.findAllIn(src).size == 1)
    // a division by a parenthesised product, a column or a square root
    // is a hand-written cosine; the helper divides by its named guard
    val divisions = "/\\s*(\\(|col\\(|sqrt\\()".r.findAllMatchIn(src)
      .map(m => src.substring(0, m.start).count(_ == '\n') + 1).toList
    assert(divisions.isEmpty, s"cosine divisions at code lines $divisions")
  }
}
