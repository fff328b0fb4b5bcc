package graft.sources

import org.apache.spark.sql.DataFrame

/** Write-side counterparts to [[Tables]] (S4 + the co-location story).
  *
  * At 100 TB the biggest recurring cost is re-shuffling fact tables for
  * every keyed join/aggregate; bucketed writes pay that shuffle ONCE at
  * write time, after which equi-joins and groupBys on the bucket key plan
  * with no Exchange (verified in SinksSpec by asserting the join plan of
  * two co-bucketed tables is shuffle-free).
  */
object Sinks {

  /** Partitioned-by-column layout — the scan side prunes partitions on
    * the filter key (e.g. daily run_date directories). */
  def overwritePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite: replaces ONLY the partition directories
    * present in `df`, leaving every other partition untouched — the
    * idempotent write for at-least-once replays (foreachBatch's contract):
    * keying a partition column by batch id makes a replayed batch rewrite
    * its own partitions instead of appending duplicates. */
  def overwritePartitionsDynamic(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table write: co-locates rows by `bucketCols` so later joins
    * and aggregations on those keys are shuffle-free. Requires a table
    * (bucketing metadata lives in the catalog, not the files).
    */
  def saveBucketed(df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** JSONL ingest with the same reject contract as
    * [[readCsvWithRejects]] — the format the contract matters MOST for:
    * JSONL is the corpus interchange format external tooling lands, and
    * a single truncated line must neither abort a 100 TB ingest
    * (FAILFAST) nor vanish silently (DROPMALFORMED). Malformed lines
    * carry their verbatim text in the corrupt-record column; the
    * pruning caveat is milder than CSV's (extracting ANY field requires
    * parsing the whole JSON object, so corruption is detected whenever
    * at least one real column is referenced) but the corrupt-only-scan
    * refusal still applies — consumers count rejects through a real
    * column (qJsonlLoad's coalesce shape). */
  def readJsonlWithRejects(s: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val full = schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val loaded = s.read.schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
    (loaded.filter(org.apache.spark.sql.functions.col(corrupt).isNull)
      .drop(corrupt),
      loaded.filter(org.apache.spark.sql.functions.col(corrupt).isNotNull))
  }

  /** CSV ingest with SQL*Loader reject semantics (the reference's
    * loader writes rejected rows to a BAD file rather than failing the
    * load, `pkg_batch_util` body's sqlldr contract): the file parses
    * under an EXPLICIT schema (never inferred: inference costs a full
    * extra scan before the first real one and can silently widen types
    * between runs) in
    * PERMISSIVE mode, and each malformed line rides along in a corrupt-
    * record column instead of poisoning the load or being silently
    * dropped. Returns (good rows, rejected rows) — the rejected frame
    * carries whatever prefix fields did parse plus the verbatim line,
    * which is the BAD file's whole point: operators re-feed it after
    * fixing the producer. One pass, fully distributed; the split is a
    * filter on the corrupt column, not a second parse.
    *
    * PRUNING CAVEAT (Spark csv semantics, not a choice here): the CSV
    * parser only parses the columns a plan actually reads
    * (`spark.sql.csv.parser.columnPruning.enabled`, default on), so
    * corruption living in a column the plan never references goes
    * UNDETECTED and the row lands on the good side. A consumer whose
    * reject split must be exact therefore references every schema
    * column in its aggregates (the qCsvLoad shape) — or counts rejects
    * in the same pass that reads the full row. */
  def readCsvWithRejects(s: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      sep: String = ","): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val full = schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val loaded = s.read.schema(full)
      .option("sep", sep)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(path)
    (loaded.filter(org.apache.spark.sql.functions.col(corrupt).isNull)
      .drop(corrupt),
      loaded.filter(org.apache.spark.sql.functions.col(corrupt).isNotNull))
  }
}
