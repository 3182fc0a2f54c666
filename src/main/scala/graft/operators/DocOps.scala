package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document-shaped (nested/grouped) output and writeback — the reference's
  * folder→member→representation tree (`bin/dao.py:173-203`), METS
  * rendering (`lib/folder2mets.xsl:13-106`), and EAD writeback join
  * (`bin/main.py:480-541`).
  *
  * Determinism discipline (SURVEY §7.3): Spark collections are unordered,
  * so every collected array is sort_array'd and every document render
  * iterates members in sorted key order — the reference's sorted-listing
  * semantics (`bin/dao.py:189`) made explicit.
  */
object DocOps {

  /** Group rows into a nested document: one row per `groupKey` with a
    * sorted array of member structs. collect_list + sort_array keeps the
    * whole group on one row — the right shape when groups are bounded
    * (folders have bounded pages); for unbounded groups prefer keeping
    * rows exploded. One shuffle on the group key. */
  def groupToDoc(rows: DataFrame, groupKey: String, memberCols: Seq[String],
      sortCols: Seq[String]): DataFrame = {
    val memberStruct = struct(
      (sortCols ++ memberCols.filterNot(sortCols.contains)).map(col): _*)
    rows.groupBy(col(groupKey))
      .agg(sort_array(collect_list(memberStruct)).as("members"))
      .withColumn("n_members", size(col("members")).cast("long"))
  }

  /** Render a grouped document to a METS-like XML string with built-in
    * string expressions (codegen-friendly; no UDF). Members carry
    * 1-based ORDER labels in sorted position — `lib/folder2mets.xsl:85-99`.
    * `memberXml` is an expression over member struct fields `m`, e.g.
    * `concat('<file seq="', m.seq, '"/>')`. */
  def renderXml(docs: DataFrame, groupKey: String, rootTag: String,
      memberXml: String): DataFrame =
    docs.withColumn("xml", expr(
      s"""concat('<$rootTag id="', $groupKey, '">',
         |  array_join(transform(members, m -> $memberXml), ''),
         |'</$rootTag>')""".stripMargin))

  /** Writeback join (J2 + F3): left-join per-key `results` into the source
    * `components` table and project updated attributes via status dispatch
    * — the EAD update at `bin/main.py:490-532` as a pure transformation
    * (source rows without results pass through unchanged). */
  def writeback(components: DataFrame, results: DataFrame, key: String,
      statusCol: String): DataFrame =
    dispatch(components.join(results, Seq(key), "left"), statusCol)

  /** Status dispatch (F3, `bin/main.py:490-532`) on rows that already carry
    * their fetch status: `show` is "new" for 200, "none" for 401/404 and
    * null otherwise; `updated` is true iff a status is present. */
  def dispatch(df: DataFrame, statusCol: String): DataFrame =
    df.withColumn("show",
        when(col(statusCol).isin(401, 404), lit("none"))
          .when(col(statusCol) === 200, lit("new"))
          .otherwise(lit(null: String)))
      .withColumn("updated", col(statusCol).isNotNull)
}
