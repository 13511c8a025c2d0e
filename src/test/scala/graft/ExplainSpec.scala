package graft

import org.scalatest.funsuite.AnyFunSuite

class ExplainSpec extends AnyFunSuite {

  test("a subset run replaces only its own budget rows, keeping the file sorted") {
    val existing = Seq(
      "a01_x\t2",
      "d04_ngram_jaccard\t1",
      "d04_ngram_jaccard#interior\t3",
      "d05_dup_clusters\t1",
      "d05_dup_clusters#interior\t4",
      "v23_knn_graph\t3",
      "v23_knn_graph#interior\t9",
      "z99_last\t0",
      "")
    val fresh = Seq(
      "v23_knn_graph\t3",
      "v23_knn_graph#interior\t7",
      "d04_ngram_jaccard\t1")
    val got = Explain.mergeBudget(existing,
      Set("d04_ngram_jaccard", "v23_knn_graph"), fresh)
    assert(got === Seq(
      "a01_x\t2",
      "d04_ngram_jaccard\t1",  // interior row gone: the fresh run had none
      "d05_dup_clusters\t1",
      "d05_dup_clusters#interior\t4",
      "v23_knn_graph\t3",
      "v23_knn_graph#interior\t7",
      "z99_last\t0"))
    // a full run rewrites everything, in key order
    val all = existing.filter(_.nonEmpty).map(_.takeWhile(_ != '\t'))
      .map(_.takeWhile(_ != '#')).toSet
    assert(Explain.mergeBudget(existing, all, fresh.reverse) ===
      fresh.sortBy(_.takeWhile(_ != '\t')))
  }
}
