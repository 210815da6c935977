package graft.operators

import graft.functions.ShingleGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-tree reference for MinHash's per-row kernel: the relational
  * formulation production MinHash replaced, which MinHashDocSpec
  * replays through the MinHashSig aggregate.
  */
object DedupReference {

  /** The distinct (doc_id, shingle) inverted index of
    * [[Dedup.shingleIndex]] with the shingle hashed to 64 bits
    * (`xxhash64`), partitioned by doc_id so a per-doc aggregate runs
    * just past the exchange with one buffer per doc.
    *
    * Set semantics come from the generator: the per-row dedup of
    * distinct strings leaves (doc_id, h) distinct except when two
    * distinct shingles of one document collide in 64 bits
    * (probability ~(shingles/doc)²/2⁶⁵).
    */
  def hashedShingleIndex(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .repartition(col("doc_id"))
}
