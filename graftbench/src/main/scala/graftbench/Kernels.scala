package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{AnnKernels, ExprKernels, SimHash}

/** The `kernel` layer: graft's native expression kernels called
  * directly on in-memory inputs, without Spark: a seeded sample of 500
  * rows of the `documents` and `embeddings` tables in `data`, and
  * seeded centroids and codebooks. Each figure is nanoseconds per input
  * row, the median of five timed sweeps.
  */
object Kernels {
  private var sink = 0L

  private def nsPerRow(rows: Int)(f: Int => Long): Double = {
    def sweep(): Long = { var s = 0L; var i = 0; while (i < rows) { s += f(i); i += 1 }; s }
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 200000000L) sink += sweep()
    val times = (0 until 5).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 50000000L) { sink += sweep(); n += 1 }
      (System.nanoTime() - t0).toDouble / (n.toLong * rows)
    }
    times.sorted.apply(2)
  }

  def measure(spark: SparkSession, data: String, seed: Long): Map[String, Double] = {
    val r = Gen.rng(seed, "kernels")
    val texts = r.shuffle(Gen.docs(spark, data)).take(500).map(d => UTF8String.fromString(d.text))
    val vecs = r.shuffle(Gen.vectors(spark, data)).take(500)
      .map(v => new GenericArrayData(v._2.map(_.toDouble)): ArrayData)
    val grams = texts.map(t => ExprKernels.gramHashes(ExprKernels.wordGrams(t, 3)))
    val cents = Array.fill(16, 64)(r.nextGaussian())
    val cellIds = Array.tabulate(16)(identity)
    val books = Array.fill(16, 64, 4)(r.nextGaussian())
    val norms = AnnKernels.adcNorms(books)
    val offsets = AnnKernels.adcOffsets(books)
    val codes = vecs.indices.map(_ =>
      new GenericArrayData(Array.fill(16)(r.nextInt(64))): ArrayData)
    val n = texts.size
    Map(
      "kernel.word_grams_ns" -> nsPerRow(n)(i => ExprKernels.wordGrams(texts(i), 3).numElements()),
      "kernel.minhash_ns" -> nsPerRow(n)(i => ExprKernels.minhashSignature(grams(i), 64).getLong(0)),
      "kernel.winnow_ns" -> nsPerRow(n)(i => ExprKernels.winnowFingerprints(texts(i), 8, 16).numElements()),
      "kernel.simhash_ns" -> nsPerRow(n)(i => SimHash.ofTokens(texts(i))),
      "kernel.cosine_ns" -> nsPerRow(n)(i =>
        java.lang.Double.doubleToLongBits(ExprKernels.cosineSimilarity(vecs(i), vecs((i + 1) % n)))),
      "kernel.nearest_cell_ns" -> nsPerRow(n)(i => AnnKernels.nearestCell(vecs(i), cents, cellIds)),
      "kernel.adc_ns" -> nsPerRow(n)(i => java.lang.Double.doubleToLongBits(
        AnnKernels.adcCosineFromQuery(vecs(i), codes(i), books, 4, norms, offsets))))
  }
}
