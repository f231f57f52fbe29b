package graft.llm

import org.apache.spark.sql.SparkSession

import graft.table.VersionedTable

/** The two maintenance verbs of every persisted index — what
  * `REFRESH INDEX` and `REINDEX INDEX` call. */
trait MaintainedIndex {
  /** Applies the source changes not yet indexed. Returns the index
    * version committed, or None when the index was already current. */
  def refresh(source: VersionedTable): Option[Long]

  /** Re-derives the whole index from the source's current snapshot,
    * retraining any frozen quantizer. Returns the index version. */
  def reindex(source: VersionedTable): Long
}

/** One `USING <method>` of the index DDL: the statement kind that
  * creates it (`CREATE <kind> INDEX`), the one source column it indexes
  * (derivations are fixed-schema: vector methods index (vec_id,
  * embedding), text methods (doc_id, text)), and how to build an index
  * at a path or open an existing one. */
final case class IndexMethod(
    name: String,
    kind: String,
    column: String,
    build: (VersionedTable, String) => MaintainedIndex,
    load: (SparkSession, String) => MaintainedIndex)

object IndexMethod {
  /** Every index method; `name` is what `graft.index.method` records. */
  val all: Seq[IndexMethod] = Seq(
    IndexMethod("ivf", "VECTOR", "embedding", VectorIndex.build, VectorIndex.load),
    IndexMethod("ivfpq", "VECTOR", "embedding", IvfPqIndex.build, IvfPqIndex.load),
    IndexMethod("pq", "VECTOR", "embedding", PqIndex.build, PqIndex.load),
    IndexMethod("sq8", "VECTOR", "embedding", Sq8Index.build, Sq8Index.load),
    IndexMethod("minhash", "SIGNATURE", "text",
      SignatureIndex.build, SignatureIndex.load),
    IndexMethod("phash", "SIGNATURE", "text",
      ImageHashIndex.build, ImageHashIndex.load),
    IndexMethod("afp", "SIGNATURE", "text",
      AudioHashIndex.build, AudioHashIndex.load),
    IndexMethod("bm25", "TEXT", "text", Bm25Index.build, Bm25Index.load))

  def named(name: String): IndexMethod =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown index method '$name'"))
}
