package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Staging ingest: schema-on-read CSV scan, lineage-stamped raw append,
  * batch-id register, and the idempotence guard (reference S1–S3, S6 —
  * consumer.sql:17-49, bl_cl.sql:12-68).
  */
object Staging {

  /** S1 — read a CSV with an explicit all-string schema (NO inferSchema:
    * bad values must survive staging and be typed at the 3NF load, exactly
    * like the reference's VARCHAR(255) external tables).
    */
  def readCsvAllString(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      // RFC-4180 / PostgreSQL COPY CSV convention: a quote inside a quoted
      // field is DOUBLED (`8 1/2 x 11"", Case`), not backslash-escaped.
      // Spark's default escape (backslash) silently misparses such rows —
      // caught by the reference's real incremental fixtures, whose product
      // names carry embedded `""` (IncrementalFixtureSpec).
      .option("escape", "\"")
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(path)

  /** S6 — allocate the next load id from the staged data itself. */
  def nextLoadId(store: TableStore, table: String): Int =
    if (!store.exists(table)) 1
    else {
      val r = store.read(table).agg(max(col("Load_id").cast("int"))).head()
      if (r.isNullAt(0)) 1 else r.getInt(0) + 1
    }

  /** S3 — duplicate-load guard: abort when the batch id is already staged
    * (reference raises 'This data was already loaded', bl_cl.sql:49-62).
    */
  def assertNotLoaded(store: TableStore, table: String, loadId: Int): Unit =
    if (store.exists(table) &&
      !store.read(table).filter(col("Load_id") === loadId.toString).isEmpty) {
      throw new IllegalStateException(
        s"load_id $loadId already present in $table: this data was already loaded")
    }

  /** Strict load typing with quarantine (SURVEY.md §7.6.5): each cast is
    * (outputCol, rawCol, typedExpr). Where PostgreSQL would abort the load
    * on a bad value, Spark's tolerant casts null it — so any row whose raw
    * value is non-null but whose typed value comes back null is diverted
    * to the quarantine side instead of silently polluting the warehouse.
    * Returns (typed, quarantined).
    */
  def typedWithQuarantine(staged: DataFrame,
      casts: Seq[(String, String, org.apache.spark.sql.Column)]): (DataFrame, DataFrame) = {
    val failed = casts
      .map { case (_, raw, typed) => col(raw).isNotNull && typed.isNull }
      .reduce(_ || _)
    val typedDf = staged
      .select(staged.columns.map(col) ++
        casts.map { case (out, _, t) => t.as(out) }: _*)
      .filter(!failed)
    (typedDf, staged.filter(failed))
  }

  /** Schema-drift alignment: conform an incoming batch to the staging
    * table's declared schema — missing columns null-fill at the declared
    * type, extra columns drop, order normalizes, and every kept column
    * casts to the declared type. A long-lived feed WILL drift (renamed
    * exports, added vendor columns); without an explicit contract the
    * drift either fails the append or silently forks the table schema.
    * Returns (aligned, droppedColumnNames) so the caller can log the
    * drift it swallowed.
    */
  def alignSchema(batch: DataFrame,
      target: StructType): (DataFrame, Seq[String]) = {
    // name matching honors spark.sql.caseSensitive (default false) — a
    // feed whose only drift is letter case must MATCH, not null-fill the
    // declared column while dropping the real data as "extra"
    val caseSensitive = batch.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String) = if (caseSensitive) n else n.toLowerCase
    val have = batch.columns.map(c => key(c) -> c).toMap
    val targetKeys = target.fieldNames.map(key).toSet
    val aligned = batch.select(target.fields.toIndexedSeq.map { f =>
      have.get(key(f.name)) match {
        case Some(src) => col(src).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
    (aligned, batch.columns.filterNot(c => targetKeys(key(c))).toSeq)
  }

  /** S2 — the batch with lineage columns `Insert_Date` (formatted
    * timestamp string, F9) and `Load_id` (stringified batch id, F11).
    */
  def withLineage(batch: DataFrame, loadId: Int): DataFrame =
    batch
      .withColumn("Insert_Date", date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("Load_id", lit(loadId.toString))

  /** S2 + S3 — guard, then append the lineage-stamped batch. A caller that
    * stages several tables as one load checks every guard first and
    * appends [[withLineage]] itself, so no table lands before all pass.
    */
  def stageAppend(store: TableStore, table: String, batch: DataFrame, loadId: Int): Unit = {
    assertNotLoaded(store, table, loadId)
    store.append(table, withLineage(batch, loadId))
  }
}
