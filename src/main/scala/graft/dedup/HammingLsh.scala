package graft.dedup

import org.apache.spark.sql.DataFrame

/** Banded-LSH candidate generation + exact verify over ANY 64-bit
  * perceptual hash column — the public Hamming entry of the image
  * ([[ImageDedup]]), audio ([[AudioDedup]]) and video ([[VideoDedup]])
  * near-dup tiers. The streaming media sink
  * (`StreamingOps.mediaPhashSink`) runs the same steps per micro-batch;
  * both take the slicing, the skew-guarded candidates and the verify from
  * the banded-LSH core, `Lsh`.
  *
  * Completeness: the hash splits into `bands` equal slices; two hashes
  * within Hamming distance `maxDist < bands` agree on at least one full
  * slice (pigeonhole), so the (band, slice) equi-join is a complete
  * candidate generator — never an all-pairs product. Candidates then
  * pass an exact 64-bit Hamming gate. Only (id, 8-byte hash) rows
  * shuffle; whatever expensive scan produced the hashes never re-runs
  * here (callers persist it).
  *
  * Skew guard (same trade as [[Dedup.minhashLshPairs]], on by default):
  * a band bucket larger than `maxBucketSize` — a flat thumbnail or
  * silent clip shared by millions of items is a C(n,2) bomb at corpus
  * scale — contributes star pairs against its min-id representative
  * instead of all pairs; exact-duplicate clusters stay connected.
  * `maxBucketSize <= 0` disables.
  *
  * Candidate-density knob: slice width is 64/bands bits, so random-hash
  * candidate volume grows as N²·bands/2^(64/bands). The default
  * (bands = 4, 16-bit slices) serves corpora through the tens of
  * millions (1M items ≈ 27M candidates, all verified by one cheap
  * bit_count gate); at billions of items trade recall radius for
  * density — bands = 2 (32-bit slices) with maxDist ≤ 1 cuts candidate
  * volume by ~2^16 while pigeonhole completeness still holds.
  */
object HammingLsh {

  /** (id_a, id_b, hamming) with id_a < id_b over `hashed` (id long,
    * `hashCol` long).
    */
  def bandedPairs(
      hashed: DataFrame,
      hashCol: String = "dhash",
      maxDist: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 4096): DataFrame = {
    val hb = Lsh.HammingBands(bands, maxDist)
    hb.verify(Lsh.candidates(hb.rows(hashed, hashCol), maxBucketSize, "id_a", "id_b"),
      "id_a", "id_b", hashed, hashCol)
  }
}
