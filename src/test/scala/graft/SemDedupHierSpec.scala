package graft

import graft.analytics.Similarity
import org.apache.spark.sql.functions._

/** Properties of the two-level SemDeDup coarse quantizer
  * ([[Similarity.semDedupKeepHier]]) the gate key's tiny forced dials
  * can't witness alone.
  */
class SemDedupHierSpec extends SparkSpecBase {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("hier with nothing oversized is identical to the flat build") {
    // maxCellPop above the corpus size -> no cell splits -> the leaf key
    // degenerates to (cell_id, -1) and the pair join must reproduce
    // semDedupKeep exactly (same top-level dials)
    val flat = Similarity.semDedupKeep(emb, nCells = 16)
      .orderBy("vec_id").collect().toSeq
    val hier = Similarity.semDedupKeepHier(emb,
        topCells = 16, maxCellPop = 1000000L)
      .orderBy("vec_id").collect().toSeq
    assert(hier == flat)
  }

  test("forced splits refine the cut: keep-set grows monotonically") {
    // splitting cells only REMOVES candidate pairs (pairs straddling a
    // sub-cell boundary are no longer compared), so fewer vectors can be
    // dropped as near-dups than under the flat cut at the same top level
    val flatKept = Similarity.semDedupKeep(emb, nCells = 4).count()
    val hierKept = Similarity.semDedupKeepHier(emb,
      topCells = 4, maxCellPop = 64L, subCells = 4).count()
    assert(hierKept >= flatKept)
    // and the hierarchy is actually ACTIVE at these dials — asserted
    // STRUCTURALLY (real sub-cells exist, i.e. more distinct leaves than
    // top cells), not through hierKept > flatKept, which would encode a
    // fixture-distribution property (some split must cut a >= minSim
    // pair) and could fail on a regenerated fixture with correct code
    val leaves = Similarity.semDedupHierLeaves(emb,
      topCells = 4, maxCellPop = 64L, subCells = 4, iters = 2, trainMod = 4)
    val nTop = leaves.select("cell_id").distinct().count()
    val nLeaf = leaves.select("cell_id", "sub_id").distinct().count()
    assert(nLeaf > nTop,
      s"expected the 4/64/4 dials to split at least one cell on sf0.001 " +
        s"(leaves $nLeaf vs top cells $nTop)")
  }

  test("split-cell members carry a real sub-cell, unsplit members -1") {
    // re-derive the leaf relation's invariant through the public result:
    // with maxCellPop = 0 every cell splits, so the hier result at
    // subCells = 1 equals the flat result (one sub-cell = the whole cell)
    val flat = Similarity.semDedupKeep(emb, nCells = 8)
      .orderBy("vec_id").collect().toSeq
    val oneSub = Similarity.semDedupKeepHier(emb,
        topCells = 8, maxCellPop = 0L, subCells = 1)
      .orderBy("vec_id").collect().toSeq
    assert(oneSub == flat)
  }

  test("degenerate corpus: empty input yields empty keep-set, no error") {
    val none = Similarity.semDedupKeepHier(emb.filter(col("vec_id") < 0),
      topCells = 4, maxCellPop = 64L, subCells = 4)
    assert(none.count() == 0)
  }
}
