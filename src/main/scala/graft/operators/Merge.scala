package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Upsert and snapshot diff — the mutation layer a parquet lake
  * lacks natively (VERDICT round-1 "what's missing" #5). [[upsert]] is
  * copy-on-write MERGE semantics as one plan: keep every base row
  * whose key has no update (anti join), then union the updates —
  * last-write-wins, one shuffle on the key.
  */
object Merge {

  /** Copy-on-write upsert: rows of `updates` replace same-key rows of
    * `base`; unmatched update keys are inserts. Both legs shuffle on
    * `keys` once; no driver-side state.
    *
    * `updates` must be unique per key — with no version column there
    * is no "newest" to pick, so duplicate update keys would all
    * survive the union. Callers whose update stream can carry
    * duplicates pass `precedence`: the highest value per key wins
    * (a keyed row_number dedup) before the merge. */
  def upsert(base: DataFrame, updates: DataFrame,
      keys: Seq[String], precedence: Option[String] = None): DataFrame = {
    val deduped = precedence match {
      case None => updates
      case Some(p) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(p).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }
    base.join(deduped.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(deduped)
  }

  /** q87: deterministic upsert over documents — doc_id < 50 receive a
    * re-edited text (the update set), the rest pass through; the
    * oracle states the same last-write-wins outcome as a CASE over the
    * base table, proving the anti-join+union plan implements MERGE. */
  def upsertDocuments(t: Tables): DataFrame = {
    val updates = t.documents.filter(col("doc_id") < 50)
      .withColumn("text", concat(lit("edited: "), col("text")))
    upsert(t.documents, updates, Seq("doc_id"))
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Generic snapshot diff — CDC between two versions of a keyed
    * table: one full-outer join on the key, payload equality via a
    * row-hash (so arbitrarily wide payloads compare as one column),
    * emitting added / removed / changed rows. One shuffle on the key;
    * at 100 TB both sides bucket on the key and the join co-locates.
    * The hash carries no semantics beyond equality, so md5 (identical
    * in every engine) keeps the oracle literal. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      payloadHash: DataFrame => Column): DataFrame = {
    val o = oldDf.select(col(key).as("__ko"), payloadHash(oldDf).as("__ho"))
    val n = newDf.select(col(key).as("__kn"), payloadHash(newDf).as("__hn"))
    o.join(n, col("__ko") === col("__kn"), "full_outer")
      .filter(col("__ko").isNull || col("__kn").isNull ||
        col("__ho") =!= col("__hn"))
      .select(coalesce(col("__ko"), col("__kn")).as(key),
        when(col("__ko").isNull, "added")
          .when(col("__kn").isNull, "removed")
          .otherwise("changed").as("status"))
      .orderBy(col(key))
  }

  /** q124: snapshot diff over a deterministically mutated second
    * version of documents — doc_id % 97 = 0 removed, % 31 = 0 edited,
    * % 53 = 0 re-inserted under a shifted id (adds). The synthetic
    * add ids live in the NEGATIVE id space (-doc_id - 1): real doc_ids
    * are non-negative at every SF, so the shift can never collide with
    * an existing key no matter how large the corpus grows (a fixed
    * +1000000 offset would collide once ids pass 10^6 and silently
    * fan out the full-outer join). */
  def snapshotDiffDocuments(t: Tables): DataFrame = {
    val old = t.documents
    val newV = t.documents
      .filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 31 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(t.documents.filter(col("doc_id") % 53 === 0)
        .withColumn("doc_id", -col("doc_id") - 1L))
    snapshotDiff(old, newV, "doc_id", df => md5(df("text")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_upsert_documents" -> ((s, d) => upsertDocuments(Tables(s, d))),
    "q124_snapshot_diff" -> ((s, d) => snapshotDiffDocuments(Tables(s, d)))
  )

  val oracleSql: Map[String, String] = Map(
    "q87_upsert_documents" ->
      """SELECT doc_id,
        |  md5(CASE WHEN doc_id < 50 THEN 'edited: ' || text ELSE text END)
        |    AS content_hash,
        |  lang, source
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q124_snapshot_diff" ->
      """WITH v_old AS (SELECT doc_id, md5(text) AS h FROM documents),
        |v_new AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 31 = 0 THEN text || ' v2'
        |                          ELSE text END) AS h
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 53 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM v_old o FULL JOIN v_new n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
        |ORDER BY doc_id""".stripMargin
  )
}
