package graft.operators

/** One nearest-neighbour configuration of the IVF/PQ family (Jégou et
  * al. 2011; the FAISS index ladder) — the value that
  * [[Similarity.knn]], [[Similarity.buildAnnIndex]] and
  * [[Similarity.knnOracleSql]] are keyed by. Four axes:
  *
  *  - `coarse`: which inverted-file cells restrict the candidates —
  *    none ([[Coarse.Flat]]: every query scans the whole corpus), the
  *    `id % centroidMod == 0` subsample ([[Coarse.Mod]]) or a fixed-k
  *    k-means codebook ([[Coarse.Trained]]);
  *  - `code`: how candidates are scored — exact cosine on the raw
  *    vectors ([[Code.Raw]]), asymmetric distance over PQ codes
  *    ([[Code.Pq]]) or over PQ codes of the residual against the
  *    vector's cell centroid ([[Code.ResidualPq]], IVFADC);
  *  - `refine`: re-score the top `r` candidates per query with the
  *    exact cosine and keep the exact top k (the FAISS refine stage);
  *  - `nProbes`: how many nearest cells each query scans (ignored by
  *    [[Coarse.Flat]]).
  *
  * Exact-scored specs (raw codes or a refine stage) emit
  * (query_id, neighbor_id, score, rnk), ranked by cosine descending;
  * ADC specs emit (query_id, neighbor_id, adist, rnk), ranked by
  * approximate squared distance ascending. Ties break on the lower
  * neighbor id everywhere.
  */
final case class AnnSpec(coarse: AnnSpec.Coarse = AnnSpec.Coarse.Flat,
                         code: AnnSpec.Code = AnnSpec.Code.Raw,
                         refine: Option[Int] = None,
                         nProbes: Int = 4) {
  require(nProbes > 0, s"nProbes must be positive, got $nProbes")
  require(refine.forall(_ > 0), s"refine depth must be positive, got $refine")
  require(!(code.isInstanceOf[AnnSpec.Code.ResidualPq] && coarse == AnnSpec.Coarse.Flat),
    "ResidualPq needs coarse cells: a residual is taken against the vector's cell centroid")
}

object AnnSpec {
  sealed trait Coarse
  object Coarse {
    case object Flat extends Coarse
    /** Every `centroidMod`-th id's vector is a centroid: the codebook
      * grows with the corpus (n / centroidMod cells). */
    final case class Mod(centroidMod: Int = 50) extends Coarse
    /** `kCoarse` Lloyd centroids ([[Similarity.kmeansCentroids]],
      * `iters` rounds) trained on the `trainMod`-strided sample: the
      * codebook stays at k cells at any corpus size. */
    final case class Trained(kCoarse: Int = 16, iters: Int = 2,
                             trainMod: Int = 1) extends Coarse
  }

  sealed trait Code
  object Code {
    case object Raw extends Code
    /** `m` subspaces × `ksub` codes; `trainIters` > 0 refines the
      * sampled seed codebook with per-subspace Lloyd. */
    final case class Pq(m: Int = 16, ksub: Int = 32, trainIters: Int = 0) extends Code
    /** PQ over the residual v − c(v), codebook seeded from the
      * residuals of the sampled seed vectors. */
    final case class ResidualPq(m: Int = 16, ksub: Int = 32) extends Code
  }
}
