package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.operators.TxTable

/** `spark.read.format("graft").load(root)` — the standard Spark source
  * surface over a TxTable: a stock parquet [[HadoopFsRelation]] whose
  * location is a [[GraftFileIndex]], so the snapshot's log stats and
  * blooms prune files at PLANNING time and the log's size feeds join
  * strategy, while scan execution stays fully native (vectorized
  * parquet, pushed filters, column pruning, whole-stage codegen).
  *
  * Options:
  *   - `versionAsOf` — time travel to a historical snapshot.
  *
  * The format path serves SNAPSHOT-CLEAN tables: live merge-on-read
  * ledgers and schema evolutions still pending on live files are
  * LOG-ORDER-scoped plan transformations (anti-joins / per-era
  * reconciliation) that a fixed file relation cannot express, so they
  * refuse loudly — `compact()` folds both away, or use [[GraftSource.read]],
  * which composes the indexed scan when eligible and falls back to
  * [[TxTable.read]]'s full merge-on-read resolution otherwise. */
final class GraftDataSource extends RelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("paths"))
      .getOrElse(throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(<tableRoot>)"))

  // DataFrameReader/Writer lower-case option keys via CaseInsensitiveMap
  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v
    }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val v = opt(parameters, "versionAsOf").map(_.toLong).getOrElse(Long.MaxValue)
    GraftSource.relation(sqlContext.sparkSession, pathOf(parameters), v)
  }

  // ------------------------------------------------ streaming source
  private def cdcOf(parameters: Map[String, String]): Boolean =
    opt(parameters, "readChangeFeed").exists(_.toBoolean)

  private def cdcKeysOf(parameters: Map[String, String]): Seq[String] =
    opt(parameters, "changeKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = pathOf(parameters)
    val s =
      if (cdcOf(parameters))
        new GraftChangeFeedSource(spark, root, cdcKeysOf(parameters),
          GraftSource.tableSchema(spark, root), None).schema
      else schema.getOrElse(GraftSource.tableSchema(spark, root))
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = pathOf(parameters)
    val maxV = opt(parameters, "maxVersionsPerTrigger").map(_.toLong)
    if (cdcOf(parameters))
      new GraftChangeFeedSource(spark, root, cdcKeysOf(parameters),
        GraftSource.tableSchema(spark, root), maxV)
    else new GraftStreamSource(spark, root,
      schema.getOrElse(GraftSource.tableSchema(spark, root)),
      ignoreChanges = opt(parameters, "ignoreChanges").exists(_.toBoolean),
      maxVersionsPerTrigger = maxV)
  }

  // -------------------------------------------------- streaming sink
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft sink does not take partitionBy — declare statsKey instead " +
        "(log-stats pruning replaces directory partitioning)")
    val mode = opt(parameters, "mergeMode").getOrElse("cow")
    require(mode == "cow" || mode == "mor",
      s"mergeMode must be 'cow' or 'mor', got '$mode'")
    val foldEvery = opt(parameters, "foldEvery").map(_.toInt).getOrElse(0)
    require(foldEvery == 0 || mode == "mor",
      "foldEvery is the MoR maintenance policy — set mergeMode=mor")
    new GraftStreamSink(sqlContext.sparkSession, pathOf(parameters),
      mergeKeys = opt(parameters, "mergeKeys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      statsKey = opt(parameters, "statsKey"),
      morUpserts = mode == "mor",
      foldEvery = foldEvery,
      maxLedgers = opt(parameters, "maxLedgers").map(_.toInt).getOrElse(8))
  }
}

object GraftSource {

  /** The planner-integrated relation for a snapshot-clean table (see
    * [[GraftDataSource]] for the refusal contract). */
  def relation(spark: SparkSession, root: String,
               versionAsOf: Long = Long.MaxValue): HadoopFsRelation = {
    val snap = TxTable.snapshot(root, versionAsOf)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    require(snap.files.nonEmpty, s"empty table snapshot v${snap.version}")
    require(snap.ledgers.isEmpty,
      s"table at $root has live merge-on-read ledgers — the format scan " +
        "cannot subtract them; compact() first or use GraftSource.read")
    require(!snap.pendingEvo,
      s"table at $root has schema evolutions pending on live files — " +
        "compact() first or use GraftSource.read")
    val schema = scanSchema(spark, root, snap)
    HadoopFsRelation(
      location = new GraftFileIndex(root, snap, schema),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }

  /** The indexed scan as a DataFrame. */
  def scan(spark: SparkSession, root: String,
           versionAsOf: Long = Long.MaxValue): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, root, versionAsOf))

  /** Full-semantics read that takes the planner-pruned path whenever the
    * snapshot is eligible and otherwise yields [[TxTable.read]]'s exact
    * merge-on-read / per-era resolution — same rows either way, so
    * callers never trade correctness for skipping. */
  def read(spark: SparkSession, root: String,
           versionAsOf: Long = Long.MaxValue): DataFrame = {
    val snap = TxTable.snapshot(root, versionAsOf)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    if (snap.files.nonEmpty && snap.ledgers.isEmpty && !snap.pendingEvo)
      scan(spark, root, versionAsOf)
    else TxTable.read(spark, root, versionAsOf)
  }

  /** The table's current read schema (footer-merged over live files). */
  def tableSchema(spark: SparkSession, root: String): StructType = {
    val snap = TxTable.snapshot(root)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    require(snap.files.nonEmpty,
      s"cannot derive a schema from an empty snapshot at $root")
    scanSchema(spark, root, snap)
  }

  /** Schema from the live files' parquet footers (metadata-only reads;
    * a production log would record the schema at publish). Snapshot-
    * clean tables have one era, so plain footer merge is exact. */
  private def scanSchema(spark: SparkSession, root: String,
                         snap: TxTable.Snapshot): StructType =
    spark.read.option("mergeSchema", "true")
      .parquet(snap.files.map(f => s"$root/$f"): _*).schema
}
