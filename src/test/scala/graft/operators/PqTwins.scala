package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference spellings the specs serve beside the encoding core: the
  * two-job checkpoint pin ([[ProductQuantizer.pinProbesWithCells]] is
  * the engine's one pin), the PQ batch scorers as free functions over
  * raw codebooks (un-pinned entries pin first), and the flat ADC top-k.
  */
object PqTwins {
  type Book = Seq[(Long, Seq[Long])]

  /** Dedup a probe frame on qid and pin it with a checkpoint job. */
  def pinProbes(probesIn: DataFrame): ProductQuantizer.PinnedProbes =
    new ProductQuantizer.PinnedProbes(probesIn.dropDuplicates("qid").localCheckpoint())

  def adcBatchServe(indexed: DataFrame, pinned: ProductQuantizer.PinnedProbes,
      coarse: Book, books: Seq[Book], subDim: Int, nProbe: Int, topK: Int): DataFrame =
    Quantizers(coarse, books, subDim).scoreBatch(indexed, pinned, nProbe, topK)

  def adcBatchServe(indexed: DataFrame, probesIn: DataFrame,
      coarse: Book, books: Seq[Book], subDim: Int, nProbe: Int, topK: Int): DataFrame =
    adcBatchServe(indexed, pinProbes(probesIn), coarse, books, subDim, nProbe, topK)

  def adcBatchServeResidual(indexed: DataFrame, pinned: ProductQuantizer.PinnedProbes,
      coarse: Book, books: Seq[Book], subDim: Int, nProbe: Int, topK: Int): DataFrame =
    Quantizers(coarse, books, subDim, Encoding.ResidualPq)
      .scoreBatch(indexed, pinned, nProbe, topK)

  def adcBatchServeResidual(indexed: DataFrame, probesIn: DataFrame,
      coarse: Book, books: Seq[Book], subDim: Int, nProbe: Int, topK: Int): DataFrame =
    adcBatchServeResidual(indexed, pinProbes(probesIn), coarse, books, subDim,
      nProbe, topK)

  /** Flat ADC top-k over a code table: (vec_id, adc_scaled), ties to the
    * lower vec_id.
    */
  def adcTopK(codes: DataFrame, luts: Seq[Map[Long, Long]], k: Int): DataFrame =
    codes.select(col("vec_id"), ProductQuantizer.adcDist(luts).as("adc_scaled"))
      .orderBy(col("adc_scaled").asc, col("vec_id").asc)
      .limit(k)
}
