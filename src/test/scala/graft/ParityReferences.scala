package graft

import graft.dedup.DedupOps.{DefaultPerms, HashPrime}
import graft.sim.SimilarityOps
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** The plain higher-order-function and union spellings that the native
  * expressions and fused plans replaced: the references their specs pin
  * the program's results against, bit for bit or set for set. */
object ParityReferences {

  /** The pre-r18 HOF spelling of `TextOps.ngrams`. */
  def ngramsHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** The pre-r18 fold spelling of `TextOps.languageIdOf`. */
  def languageIdOfHof(toks: Column): Column = {
    val langs = TextOps.languageMarkers.keys.toSeq.sorted
    val scores = langs.map(l => TextOps.languageScoreOf(toks, l))
    val best = greatest(scores: _*)
    langs.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(best > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** The pre-r18 HOF spelling of `DedupOps.shinglesOf`. */
  def shinglesOfHof(ws: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(ws, i, lit(n)))))

  /** Interpreted `aggregate(transform(...))` fold with the semantics of
    * `DedupOps.minhashSignatureArray`. */
  def minhashSignatureArrayHof(hashedSet: Column,
      perms: Seq[(Long, Long)] = DefaultPerms): Column = {
    val aArr = array(perms.map(p => lit(p._1)): _*)
    val bArr = array(perms.map(p => lit(p._2)): _*)
    aggregate(
      hashedSet,
      array(perms.map(_ => lit(HashPrime)): _*),
      (acc, h) => transform(acc, (m, i) =>
        least(m, (h * element_at(aArr, i + 1) + element_at(bArr, i + 1)) % HashPrime)))
  }

  /** The pre-r19 intersect/union spelling of `DedupOps.jaccard`. */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** The pre-r19 interpreted HOF spelling of `PqIndex`'s squared L2. */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** The pre-r19 one-pipeline-per-table spelling of
    * `SimilarityOps.nearDupPairsLshMulti`. */
  def nearDupPairsLshMultiUnion(df: DataFrame, idCol: String,
      vecCol: String, minCosine: Double, tables: Int = 2,
      targetBlock: Double = 256.0, maxBits: Int = 16, dim: Int = 64): DataFrame =
    (0 until tables)
      .map(t => SimilarityOps.nearDupPairsLsh(df, idCol, vecCol, minCosine, targetBlock,
        maxBits, dim, seed = if (t == 0) "" else s"t$t|"))
      .reduce(_ union _)
      .distinct()
}
