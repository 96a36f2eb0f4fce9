package graft

import graft.operators.Dedup

/** Measures MinHash-LSH banding RECALL against the exact all-pairs Jaccard
  * ground truth (x06) at the production parameters x07/x46/x47 use
  * (k=3 shingles, 4 bands × 3 rows, threshold 0.8), on real corpus scale
  * factors — and reports the numbers through `info()` (COVERAGE.md's
  * measured-recall block is refreshed by hand from them) so the chosen
  * (bands, rowsPerBand) carries evidence, not just the 1-(1-s^r)^b
  * formula.
  *
  * The banded path exact-verifies its candidates, so precision vs the
  * truth set is 1 by construction; recall is the only free quantity. At
  * j >= 0.8 the formula gives a >= 0.943 per-pair hit rate (and the
  * planted near-dups in the corpus sit far above the threshold), so the
  * 0.8 assertion bound has real slack only if banding breaks.
  */
class BandingRecallSpec extends SparkSpec {

  private final case class Row(sfName: String, truth: Long, found: Long,
      candidates: Long, nDocs: Long) {
    def recall: Double = if (truth == 0) 1.0 else found.toDouble / truth
    def allPairs: Double = nDocs.toDouble * (nDocs - 1) / 2
  }

  private def measure(sfName: String): Row = {
    val docs = Tables.table(spark, sf(sfName), "documents")
    val nDocs = docs.count()
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .select("id_a", "id_b")
    val banded = Dedup.minhashPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.8, bands = 4, rowsPerBand = 3)
      .select("id_a", "id_b")
    val truthN = truth.count()
    val foundN = banded.join(truth, Seq("id_a", "id_b")).count()
    // candidate volume: what the band join surfaces BEFORE verification —
    // the work the banding actually buys vs the n(n-1)/2 cross product
    val bk = Dedup.minhashBands(docs, "doc_id", "text", k = 3,
      bands = 4, rowsPerBand = 3)
    val candidates = bk.as("a").join(bk.as("b"),
        org.apache.spark.sql.functions.col("a.band") === org.apache.spark.sql.functions.col("b.band") &&
          org.apache.spark.sql.functions.col("a.band_key") === org.apache.spark.sql.functions.col("b.band_key") &&
          org.apache.spark.sql.functions.col("a.id") < org.apache.spark.sql.functions.col("b.id"))
      .select("a.id", "b.id").distinct().count()
    Row(sfName, truthN, foundN, candidates, nDocs)
  }

  test("banded MinHash recall >= 0.8 vs exact Jaccard at sf0.01 and sf0.1") {
    val rows = Seq(measure("sf0.01"), measure("sf0.1"))
    rows.foreach { r =>
      info(f"${r.sfName}: docs=${r.nDocs} truth=${r.truth} found=${r.found} " +
        f"recall=${r.recall}%.3f candidates=${r.candidates} " +
        f"(${r.candidates / r.allPairs * 100}%.3f%% of all pairs)")
      assert(r.truth > 0, s"${r.sfName}: empty ground truth — corpus changed?")
      assert(r.recall >= 0.8,
        f"${r.sfName}: banding recall ${r.recall}%.3f below target 0.8")
    }
  }
}
