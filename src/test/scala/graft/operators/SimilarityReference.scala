package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import Similarity.{MinhashPerms, shingleHashesOf}

/** The explode → aggregate formulations of the one-pass sketch
  * expressions, kept as cross-check references for PropertiesSpec's
  * equivalence properties. */
object SimilarityReference {

  /** [[Similarity.minhashSignatures]] as explode → 64 min aggregates. */
  def minhashSignaturesExploded(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame = {
    val exploded = docs
      .select(col(idCol), Text.tokens(col(textCol)).as("_w"))
      .select(col(idCol), explode(shingleHashesOf(col("_w"), k)).as("h0"))
    val minCols = (0 until MinhashPerms)
      .map(j => min(xxhash64(col("h0"), lit(j))).as(s"h$j"))
    exploded.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until MinhashPerms).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** [[Similarity.simhash]] as explode → 64 bit-vote sums. */
  def simhashExploded(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val words = docs.select(col(idCol),
      explode(array_distinct(Text.tokens(col(textCol)))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitVotes = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    words.groupBy(col(idCol))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(k =>
          when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
