package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Sinks — the engine-owned write paths.
  *
  * The reference loads by inserting denormalized rows against a view
  * and letting an INSTEAD-OF-INSERT trigger + get-or-create procedures
  * normalize them into a star schema (reference: etl.js:311-370,
  * schema.sql:105-173; SURVEY.md §2.2 K1, §2.8 G1–G4, §3.2). This
  * engine owns both sides, so the whole trigger pipeline is one batch
  * API: [[normalize]] resolves dimensions and rewrites the fact rows;
  * the caller then writes fact + dims with [[writeParquet]] /
  * [[writeJdbc]].
  */
object Sinks {

  /** One name→surrogate-key resolution: fact column `nameCol` resolves
    * through dimension `dimName` into `fkCol`. Several specs may share
    * a `dimName` — the reference resolves reviewer AND reporter through
    * the same `jira_user` dim (schema.sql:147-149).
    */
  case class DimSpec(nameCol: String, fkCol: String, dimName: String)

  /** The trigger-equivalent normalization (reference: add_feasibility,
    * schema.sql:141-165): grow each dimension with any new names from
    * the incoming batch (dense ids appended after the existing max),
    * then swap every name column for its surrogate key.
    *
    * Returns (updated dims, normalized fact). The names of every dim
    * come from the batch in one action (distinct (dim, name) pairs), and
    * each dim grows on the driver ([[Relational.dimGetOrCreate]]) into
    * a local relation, so the FK-resolution joins broadcast it without
    * a job; the fact stays lazy and never shuffles for this.
    * Deterministic and idempotent per batch.
    */
  def normalize(
      incoming: DataFrame,
      existingDims: Map[String, DataFrame],
      specs: Seq[DimSpec]): (Map[String, DataFrame], DataFrame) = {
    val pairs = specs.map(s => struct(lit(s.dimName).as("dim"), col(s.nameCol).as("name")))
    val names = incoming
      .select(explode(array(pairs: _*)).as("n"))
      .select(col("n.dim"), col("n.name"))
      .filter(col("name").isNotNull)
      .distinct()
      .collect()
      .groupMap(_.getString(0))(_.getString(1))
    val grownDims = specs.map(_.dimName).distinct.map { dimName =>
      val fresh = names.getOrElse(dimName, Array.empty[String]).toSeq
      dimName -> Relational.dimGetOrCreate(existingDims(dimName), fresh)
    }.toMap
    val fact = specs.foldLeft(incoming) { (acc, s) =>
      Relational.resolveDimFk(acc, grownDims(s.dimName), s.nameCol, s.fkCol).drop(s.nameCol)
    }
    (grownDims, fact)
  }

  /** The reference's NULL-id guard (schema.sql:151-152): fail the batch
    * if any row carries a name that did not resolve. Costs one count
    * over `fact` — over [[normalize]]'s output, a scan of the incoming
    * batch against the broadcast dims.
    */
  def requireResolved(fact: DataFrame, specs: Seq[DimSpec]): DataFrame = {
    val unresolved = specs.map(s => col(s.fkCol).isNull).reduce(_ || _)
    val n = fact.filter(unresolved).count()
    require(n == 0, s"$n fact rows have unresolved dimension keys")
    fact
  }

  /** Partitioned parquet sink. Partition columns become the directory
    * layout — the coarse pruning axis every downstream scan gets for
    * free; at 100 TB this (plus file sizing via
    * `spark.sql.files.maxRecordsPerFile`) is the difference between
    * touching one partition and touching all of them.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Partitioned ORC sink — [[writeParquet]]'s twin for ORC-standardized
    * estates: same directory-layout pruning contract, and Spark's
    * native ORC reader does the same min/max-stat predicate pushdown
    * per stripe, so the 100 TB skipping story carries over unchanged.
    */
  def writeOrc(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /** Bucketed table sink: hash-bucket (and sort) the data by the join
    * key at write time. Two tables bucketed the same way equi-join with
    * NO shuffle on either side — the planner proves co-partitioning
    * from the bucket spec. At 100 TB this is the single biggest join
    * optimization available: the fact table's shuffle is paid once at
    * ingest instead of on every query. Requires a catalog table
    * (`saveAsTable`) — bucket metadata lives in the metastore.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Dynamic partition overwrite — the idempotent partitioned-refresh
    * sink (Hive's `INSERT OVERWRITE ... PARTITION` semantics): only
    * the partitions PRESENT IN THIS BATCH are replaced; every other
    * partition of the table survives untouched. The default
    * (`partitionOverwriteMode=STATIC`) truncates the whole table on
    * Overwrite — the classic reprocessing foot-gun when a daily job
    * rewrites one day. At 100 TB a refresh touches a handful of
    * date/source partitions out of thousands; this is the only
    * Overwrite that is safe to retry per-increment.
    *
    * The mode is set per-WRITE via the DataFrameWriter option (not the
    * session conf), so concurrent writers with different intents never
    * race on a global setting.
    */
  def overwritePartitionsDynamic(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "dynamic overwrite needs at least one partition column")
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Small-file compaction — the table-maintenance job every
    * landing-zone dataset needs: streaming ingest (one file per
    * micro-batch) and fine-grained partitioning accumulate thousands
    * of small files, and at 100 TB the scan-planning + open() overhead
    * dominates reads. Rewrites `srcDir` into `destDir` with
    * `ceil(rows / targetRowsPerFile)` near-uniform files via
    * round-robin `repartition` (uniform file sizes, no skewed
    * stragglers). Writes to a NEW directory — atomic swap is the
    * caller's move (rename/retarget), never an in-place rewrite.
    *
    * @return (input file count, output file count)
    */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      destDir: String,
      targetRowsPerFile: Long): (Long, Long) = {
    val df = spark.read.parquet(srcDir)
    val inFiles = df.inputFiles.length.toLong
    val rows = df.count()
    val nOut = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(destDir)
    (inFiles, spark.read.parquet(destDir).inputFiles.length.toLong)
  }

  /** Z-ORDERED parquet write ([[graft.functions.ZOrder]]): range-
    * partition and sort the frame by the Morton interleave of two
    * columns, so every output file carries NARROW min/max ranges on
    * BOTH dimensions — the Delta/Iceberg `OPTIMIZE ZORDER BY` layout,
    * which lets a footer-stats reader skip most files for a predicate
    * on either column. `repartitionByRange` on the z-value is one
    * shuffle; the z column itself is dropped before writing.
    *
    * Returns the number of files written.
    */
  def writeZOrdered(
      df: org.apache.spark.sql.DataFrame,
      destDir: String,
      colA: String,
      colB: String,
      bits: Int,
      numFiles: Int): Long = {
    import graft.functions.ZOrder
    df.withColumn("__z", ZOrder.zValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode(SaveMode.Overwrite)
      .parquet(destDir)
    df.sparkSession.read.parquet(destDir).inputFiles.length.toLong
  }

  /** JDBC sink — the Spark-native K1 (reference: etl.js:311-370, one
    * prepared INSERT per row under async.parallel). Spark's JDBC writer
    * batches `batchSize` rows per statement and runs one connection per
    * partition; its `numPartitions` option caps the connections (the
    * cap the reference's unbounded async.parallel lacked) by coalescing
    * only a frame with more partitions — no shuffle. A frame with
    * fewer partitions writes with that many connections (AQE sizes a
    * cached batch's partitions by its bytes and the session's
    * parallelism). Per-row
    * error tolerance (helpers.js:100-104 swallows failures) is
    * deliberately NOT the default: a failed partition fails the job —
    * all-or-nothing beats silently missing rows in a 100 TB load. The
    * reference's row-tolerant behavior is available opt-in via
    * [[writeJdbcTolerant]].
    *
    * Exercised end-to-end against embedded Derby in SinksSpec (the
    * container has no server database).
    */
  def writeJdbc(
      df: DataFrame,
      url: String,
      table: String,
      props: Properties,
      numPartitions: Int = 8,
      batchSize: Int = 10000,
      mode: SaveMode = SaveMode.Append): Unit =
    df.write
      .mode(mode)
      .option("numPartitions", numPartitions.toLong)
      .option("batchsize", batchSize.toLong)
      .jdbc(url, table, props)

  private def jdbcNullType(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => java.sql.Types.VARCHAR
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.FLOAT
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case BooleanType => java.sql.Types.BOOLEAN
      case _: DecimalType => java.sql.Types.DECIMAL
      case TimestampType => java.sql.Types.TIMESTAMP
      case DateType => java.sql.Types.DATE
      case _ => java.sql.Types.VARCHAR
    }
  }

  /** Opt-in per-ROW-tolerant JDBC load — the reference's exact loading
    * semantics (helpers.js:100-104: each row's insert failure is
    * swallowed and logged; the batch continues). One connection per
    * partition, autocommit per row so a poisoned row rolls back only
    * itself; failures are counted on an accumulator and returned —
    * the caller decides whether the loss rate is acceptable (the same
    * contract as the quality gate).
    *
    * Column names are quoted verbatim, matching Spark's own JDBC
    * writer, so reference-named columns like `key` work.
    *
    * DELIVERY CONTRACT — at-least-once, NOT exactly-once: a task retry
    * or speculative duplicate re-runs its whole partition with per-row
    * autocommit, re-inserting rows the failed attempt already
    * committed. Point this writer only at tables whose PRIMARY KEY (or
    * unique constraint) makes the re-insert a constraint violation —
    * the duplicate row then lands in the failure count instead of the
    * table (the reference's fact table keys on the natural ticket key,
    * schema.sql:35, which is exactly such a constraint). Without a
    * key, retries DUPLICATE rows silently. The returned count is
    * likewise an at-least-once accumulator: Spark re-counts failures
    * across retried (non-result) task attempts, so treat it as an
    * upper bound suited to loss-rate gating, not exact bookkeeping.
    *
    * @return number of rows that failed to insert (upper bound under
    *         task retries; see delivery contract above)
    */
  def writeJdbcTolerant(
      df: DataFrame,
      url: String,
      table: String,
      props: Properties,
      numPartitions: Int = 8): Long = {
    val failures = df.sparkSession.sparkContext.longAccumulator("jdbc_row_failures")
    val schema = df.schema
    val insertSql =
      s"""INSERT INTO $table (${schema.fieldNames.map(c => "\"" + c + "\"").mkString(", ")})
         | VALUES (${schema.fieldNames.map(_ => "?").mkString(", ")})""".stripMargin
    val info = new Properties()
    info.putAll(props)
    // Cap the connections as writeJdbc does: coalesce only a frame with
    // more partitions than the cap, so the write adds no shuffle.
    val rdd = df.rdd
    val capped = if (rdd.getNumPartitions > numPartitions) rdd.coalesce(numPartitions) else rdd
    capped.foreachPartition { rows =>
      val conn = java.sql.DriverManager.getConnection(url, info)
      try {
        conn.setAutoCommit(true)
        val ps = conn.prepareStatement(insertSql)
        rows.foreach { row =>
          try {
            schema.fields.zipWithIndex.foreach { case (f, i) =>
              if (row.isNullAt(i)) ps.setNull(i + 1, jdbcNullType(f.dataType))
              else ps.setObject(i + 1, row.get(i))
            }
            ps.executeUpdate()
          } catch {
            case _: java.sql.SQLException => failures.add(1)
          }
        }
        ps.close()
      } finally conn.close()
    }
    failures.value
  }

  /** G6 — the star-schema DDL bootstrap (reference schema.sql:22-59):
    * `project` and `jira_user` dims plus the `feasibility` fact with
    * its PK/FK constraints, issued over plain JDBC. Identifiers are
    * quoted lowercase so they match Spark's quoted JDBC inserts
    * (`key` is a reserved word; Derby/Postgres would otherwise
    * case-fold unquoted names in opposite directions).
    *
    * Type mapping for embedded Derby: SERIAL → ids come from
    * [[Relational.dimGetOrCreate]] Spark-side (the trigger rewrite owns
    * id assignment, so the column is a plain BIGINT), JSON and
    * TIMESTAMP WITH TIME ZONE → string columns (Derby has neither; the
    * engine stores the serialized forms it produces). NULLABLE string
    * columns must be CLOB: Spark's Derby dialect maps StringType to
    * CLOB, and its setNull(Types.CLOB) is rejected by a VARCHAR
    * column. NOT NULL strings (and the PK, which cannot be CLOB) stay
    * VARCHAR — they never take a null.
    */
  def bootstrapStarSchema(url: String, props: Properties): Unit = {
    val ddl = Seq(
      """CREATE TABLE "project" (
        | "id" BIGINT NOT NULL UNIQUE,
        | "name" VARCHAR(255) NOT NULL,
        | CONSTRAINT "project_pk" PRIMARY KEY ("id", "name"))""".stripMargin,
      """CREATE TABLE "jira_user" (
        | "id" BIGINT NOT NULL UNIQUE,
        | "username" VARCHAR(255) NOT NULL,
        | CONSTRAINT "user_pk" PRIMARY KEY ("id", "username"))""".stripMargin,
      """CREATE TABLE "feasibility" (
        | "key" VARCHAR(64) NOT NULL,
        | "summary" VARCHAR(4000) NOT NULL,
        | "created" VARCHAR(64) NOT NULL,
        | "resolution_date" CLOB,
        | "design_estimate" DOUBLE,
        | "development_estimate" DOUBLE NOT NULL,
        | "development_pad_estimate" DOUBLE,
        | "pe_estimate" DOUBLE,
        | "pm_estimate" DOUBLE,
        | "qa_estimate" DOUBLE,
        | "issue_links" CLOB,
        | "worklog" CLOB,
        | "feasibility_timespent" DOUBLE,
        | "issue_links_timespent" DOUBLE,
        | "feasibility_estimate_total" DOUBLE,
        | "delta_percentage" DOUBLE,
        | "delta" DOUBLE,
        | "fk_reviewer" BIGINT NOT NULL,
        | "fk_reporter" BIGINT NOT NULL,
        | "fk_project" BIGINT NOT NULL,
        | CONSTRAINT "feas_pk" PRIMARY KEY ("key"),
        | CONSTRAINT "reviewer_fk" FOREIGN KEY ("fk_reviewer") REFERENCES "jira_user" ("id"),
        | CONSTRAINT "reporter_fk" FOREIGN KEY ("fk_reporter") REFERENCES "jira_user" ("id"),
        | CONSTRAINT "project_fk" FOREIGN KEY ("fk_project") REFERENCES "project" ("id"))""".stripMargin)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      ddl.foreach(st.executeUpdate)
      st.close()
    } finally conn.close()
  }

  /** The same star schema in POSTGRES dialect — the reference's actual
    * target types (schema.sql:22-59: SERIAL dims, TEXT, TIMESTAMP WITH
    * TIME ZONE, REAL, JSON, INTEGER FKs). No Postgres server exists in
    * this container, so these statements are pinned as text (the type
    * inventory is spec-checked against the reference) rather than
    * executed here; against a live server, run them verbatim in place
    * of [[bootstrapStarSchema]]'s Derby DDL. Dialect notes:
    *
    *  - dim ids are engine-assigned ([[graft.operators.Relational.dimGetOrCreate]]),
    *    so the dims keep the reference's `SERIAL` columns but every
    *    insert supplies an explicit id — legal in Postgres; the unused
    *    sequence simply never advances.
    *  - `REAL` columns receive float32 values: cast with
    *    [[castForPostgresReal]] BEFORE the write so the stored value
    *    is decided by the engine's IEEE round-to-nearest-even cast,
    *    not by an implicit server-side conversion.
    *  - `JSON` columns receive the engine's `to_json` strings
    *    (deterministic field order — the struct definition order).
    */
  val postgresStarSchemaDdl: Seq[String] = Seq(
    """CREATE TABLE project (
      | id SERIAL UNIQUE,
      | name TEXT,
      | CONSTRAINT project_pk PRIMARY KEY (id, name))""".stripMargin,
    """CREATE TABLE jira_user (
      | id SERIAL UNIQUE,
      | username TEXT,
      | CONSTRAINT user_pk PRIMARY KEY (id, username))""".stripMargin,
    """CREATE TABLE feasibility (
      | key TEXT NOT NULL,
      | summary TEXT NOT NULL,
      | created TIMESTAMP WITH TIME ZONE NOT NULL,
      | resolution_date TIMESTAMP WITH TIME ZONE,
      | design_estimate REAL,
      | development_estimate REAL NOT NULL,
      | development_pad_estimate REAL,
      | pe_estimate REAL,
      | pm_estimate REAL,
      | qa_estimate REAL,
      | issue_links JSON,
      | worklog JSON,
      | feasibility_timespent REAL,
      | issue_links_timespent REAL,
      | feasibility_estimate_total REAL,
      | delta_percentage REAL,
      | delta REAL,
      | fk_reviewer INTEGER NOT NULL,
      | fk_reporter INTEGER NOT NULL,
      | fk_project INTEGER NOT NULL,
      | CONSTRAINT feas_pk PRIMARY KEY (key),
      | CONSTRAINT reporter_fk FOREIGN KEY (fk_reporter) REFERENCES jira_user (id),
      | CONSTRAINT reviewer_fk FOREIGN KEY (fk_reviewer) REFERENCES jira_user (id),
      | CONSTRAINT project_fk FOREIGN KEY (fk_project) REFERENCES project (id))""".stripMargin)

  /** The feasibility columns stored as Postgres `REAL` (float32) —
    * schema.sql:39-53: the six estimate columns plus the five derived
    * metrics.
    */
  val feasibilityRealColumns: Seq[String] = Seq(
    "design_estimate",
    "development_estimate",
    "development_pad_estimate",
    "pe_estimate",
    "pm_estimate",
    "qa_estimate",
    "feasibility_timespent",
    "issue_links_timespent",
    "feasibility_estimate_total",
    "delta_percentage",
    "delta")

  /** Cast the REAL-bound columns to float32 at the writer boundary
    * (SURVEY.md §7.4: compute in double internally, round to Postgres
    * `REAL` only at the edge). Spark's `cast("float")` is the JVM's
    * IEEE-754 double→binary32 round-to-nearest-even — the SAME
    * conversion Postgres's float8→float4 cast performs, so the stored
    * value is bit-identical whether the engine or the server rounds
    * (pinned in JdbcSinkSpec down to tie-breaking bit patterns). One
    * DOCUMENTED deviation: a double beyond float range becomes
    * ±Infinity here, where Postgres raises `value out of range: REAL`
    * — the derived metrics are bounded hours/percent figures, so the
    * overflow path is unreachable on contract-conforming data.
    * Columns absent from `df` are skipped (dims carry no REAL columns).
    */
  def castForPostgresReal(
      df: DataFrame,
      cols: Seq[String] = feasibilityRealColumns): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("float")))
}
