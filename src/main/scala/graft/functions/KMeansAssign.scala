package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Typed assignment pass for the deterministic ppm-integer k-means
  * (qs07/qs08).
  *
  * The declarative form — per centroid an `aggregate(zip_with(v, c,
  * (a,b) => (a-b)*(a-b)), 0L, _+_)` fold, then `array_min` +
  * `array_position` over the k distances — is correct but runs on
  * Catalyst's interpreted higher-order-function path (the MinHash/
  * ScrubRuns lesson: HOFs evaluate outside whole-stage codegen, per
  * element, with per-step array materialization), and it pays k·dim
  * interpreted closures per row, twice per Lloyd iteration. This
  * kernel is the same arithmetic as one typed pass: quantize the
  * embedding to ppm longs, accumulate the k squared distances in
  * primitive longs, keep the first minimum.
  *
  * Bit-parity is structural, not approximate: quantization is the
  * identical IEEE double chain `floor((x + shift) * 1e6).toLong`
  * (float widens exactly; +, *, floor are the same double ops Catalyst
  * runs), and everything after it is exact integer arithmetic —
  * squared ppm distances stay far below 2^63 (components < 2.6e6, so
  * a 64-dim squared distance < 4.3e14). Ties pick the smallest
  * cluster id, exactly `array_position(dists, array_min(dists))`.
  * KMeansAssignSpec pins the kernel against the declarative spelling
  * row-for-row; the qs07/qs08 DuckDB oracles replay the same integer
  * math independently.
  *
  * Scale: narrow map inside the scan, no shuffle — the k×dim partial
  * aggregation that consumes `v` is untouched downstream.
  */
object KMeansAssign {

  /** @param emb   (vec_id, embedding: array<float|double>)
    * @param cents k current centroids as ppm longs (ascending cluster
    *              id = position)
    * @param shift quantization shift (KmShift)
    * @return (vec_id, v: array<long>, cluster: int, dist: long) —
    *         unordered */
  def apply(emb: DataFrame, cents: IndexedSeq[Array[Long]],
      shift: Double): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(LongType)),
      StructField("cluster", IntegerType),
      StructField("dist", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    import org.apache.spark.sql.functions.col
    // explicit input schema (the ScrubRuns posture): a caller whose
    // columns differ fails at analysis, not mid-job
    val elemType = emb.select(col("embedding")).schema.head.dataType
    val elemIsFloat = elemType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"KMeansAssign needs array<float|double> embeddings, got $other")
    }
    val typed = emb.select(col("vec_id").cast(LongType), col("embedding"))
    val k = cents.length
    val cArr = cents.toArray
    typed.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val v: Array[Long] =
          if (elemIsFloat) {
            val xs = r.getSeq[Float](1)
            val out = new Array[Long](xs.length)
            var i = 0
            while (i < out.length) {
              out(i) = math.floor((xs(i).toDouble + shift) * 1e6).toLong
              i += 1
            }
            out
          } else {
            val xs = r.getSeq[Double](1)
            val out = new Array[Long](xs.length)
            var i = 0
            while (i < out.length) {
              out(i) = math.floor((xs(i) + shift) * 1e6).toLong
              i += 1
            }
            out
          }
        var best = 0
        var bestDist = Long.MaxValue
        var c = 0
        while (c < k) {
          val cv = cArr(c)
          var s = 0L
          var j = 0
          while (j < v.length) {
            val d = v(j) - cv(j)
            s += d * d
            j += 1
          }
          // strict < keeps the FIRST minimum — the smallest cluster
          // id, as array_position(dists, array_min(dists)) does
          if (s < bestDist) { bestDist = s; best = c }
          c += 1
        }
        Row(id, v.toSeq, best, bestDist)
      }
    }(enc)
  }
}
