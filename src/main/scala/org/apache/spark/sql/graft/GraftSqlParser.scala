/* Hosted under org.apache.spark.sql for private[sql] access
 * (RunnableCommand, SessionState.catalogManager) — see JsonIsValid
 * for the bridge rationale.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.operators.Snapshots
import graft.sources.{SnapshotCatalog, SnapshotTable}

/** The MAINTENANCE statements of the snapshot SQL face (r17) — the
  * four table operations Delta exposes through its own parser
  * extension, re-expressed over the graft log:
  *
  * {{{
  *   DESCRIBE HISTORY graft.t
  *   OPTIMIZE graft.t [ZORDER BY (c1, c2)]
  *   VACUUM graft.t [KEEP FROM <version>]      -- default: keep head
  *   RESTORE TABLE graft.t TO VERSION AS OF <v>
  * }}}
  *
  * A delegating [[ParserInterface]] (the Delta `DeltaSqlParser`
  * shape): statements matching the grammar above become runnable
  * commands; EVERYTHING else — including partial matches whose
  * identifier fails to parse or is not CATALOG-QUALIFIED — falls
  * through to the engine's own parser verbatim, so no vanilla SQL
  * changes meaning (the qualification gate is what keeps
  * `DESCRIBE history doc_id` — a column description of a table
  * named `history` — vanilla). None of the four verbs exist in stock
  * Spark SQL's lexer; the commands additionally verify at run time
  * that the identifier resolves through a [[SnapshotCatalog]] and
  * refuse loudly otherwise. Identifier text is parsed with the
  * DELEGATE's `parseMultipartIdentifier`, so backquoting/quoting
  * behave exactly like everywhere else in the session. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseMaintenance(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private val DescribeHistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*""".r
  private val DescribeDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\((.+?)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(.+?)(?:\s+KEEP\s+FROM\s+(\d+))?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r

  /** The maintenance grammar, or None for anything else (the caller
    * then delegates). Interception requires a CATALOG-QUALIFIED
    * identifier (≥ 2 parts): maintenance statements only apply to
    * catalog tables anyway, and the gate keeps vanilla statements
    * that merely share a keyword — `DESCRIBE history doc_id`, the
    * column description of a table named `history` — delegating
    * untouched. An identifier that fails the delegate's own multipart
    * parse also falls through (the engine's error message beats a
    * regex's). */
  private[graft] def parseMaintenance(sql: String,
                                      delegate: ParserInterface): Option[LogicalPlan] = {
    def ident(raw: String): Option[Seq[String]] =
      scala.util.Try(delegate.parseMultipartIdentifier(raw.trim)).toOption
        .filter(_.length >= 2)
    sql match {
      case DescribeHistoryRe(raw) =>
        ident(raw).map(SnapshotHistoryCommand)
      case DescribeDetailRe(raw) =>
        ident(raw).map(SnapshotDetailCommand)
      case RestoreRe(raw, v) =>
        ident(raw).map(SnapshotRestoreCommand(_, v.toLong))
      case RestoreTsRe(raw, ts) =>
        ident(raw).map(SnapshotRestoreTsCommand(_, ts))
      case OptimizeRe(raw, zcols) =>
        ident(raw).map { parts =>
          // ZORDER columns must each parse as a SINGLE name — a
          // malformed or qualified column refuses loudly rather than
          // silently dropping out (a dropped column would silently
          // change the clustering the user asked for)
          val cols = Option(zcols).fold(Seq.empty[String]) {
            _.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { c =>
              scala.util.Try(delegate.parseMultipartIdentifier(c)).toOption
                .filter(_.length == 1).map(_.head)
                .getOrElse(throw new IllegalArgumentException(
                  s"OPTIMIZE ... ZORDER BY wants plain column names, got '$c'"))
            }
          }
          SnapshotOptimizeCommand(parts, cols)
        }
      case VacuumRe(raw, keep) =>
        ident(raw).map(SnapshotVacuumCommand(_, Option(keep).map(_.toLong)))
      case _ => None
    }
  }

  /** Resolve `<catalog>.<ns...>.<table>` to its snapshot directory —
    * refusing anything that is not a [[SnapshotCatalog]] table. */
  private[graft] def resolveSnapshotDir(spark: SparkSession,
                                        parts: Seq[String]): String = {
    require(parts.length >= 2,
      s"maintenance statements need a catalog-qualified table " +
        s"(<catalog>.<table>), got '${parts.mkString(".")}'")
    val cat =
      try spark.sessionState.catalogManager.catalog(parts.head)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"catalog '${parts.head}' is not registered — set " +
          s"spark.sql.catalog.${parts.head} to graft.sources.SnapshotCatalog", e) }
    cat match {
      case sc: SnapshotCatalog =>
        sc.loadTable(Identifier.of(
          parts.slice(1, parts.length - 1).toArray, parts.last)) match {
          case t: SnapshotTable => t.dir
          case other => throw new IllegalStateException(
            s"unexpected table type ${other.getClass} from SnapshotCatalog")
        }
      case other => throw new UnsupportedOperationException(
        s"'${parts.head}' (${other.getClass.getSimpleName}) is not a graft " +
          "SnapshotCatalog — DESCRIBE HISTORY / OPTIMIZE / VACUUM / RESTORE " +
          "apply to snapshot tables only")
    }
  }
}

/** `DESCRIBE HISTORY graft.t` — [[Snapshots.history]]'s metadata-only
  * per-version rows, newest first (one manifest fold per retained
  * version; bounded by retention, never by data size). */
case class SnapshotHistoryCommand(parts: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("version", LongType),
    StructField("files", IntegerType),
    StructField("rows", LongType),
    StructField("bytes", LongType),
    StructField("columns", IntegerType),
    StructField("stream_app_id", StringType),
    StructField("stream_batch_id", LongType),
    StructField("operation", StringType),
    StructField("committed_at", TimestampType))))

  override def run(spark: SparkSession): Seq[Row] =
    Snapshots.history(spark,
      GraftSqlParser.resolveSnapshotDir(spark, parts)).collect().toSeq
}

/** `OPTIMIZE graft.t [ZORDER BY (c1, c2)]` — [[Snapshots.compact]]:
  * rewrite the current content into few large files as a NEW version
  * (time travel intact), z-order-clustered when asked so every
  * clustered column's file ranges tighten. Returns the new version. */
case class SnapshotOptimizeCommand(parts: Seq[String],
                                   zOrderBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(
    StructType(Seq(StructField("version", LongType))))

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveSnapshotDir(spark, parts)
    val v =
      if (zOrderBy.size == 1) Snapshots.compact(spark, dir, clusterBy = zOrderBy)
      else Snapshots.compact(spark, dir, zOrderBy = zOrderBy)
    Seq(Row(v))
  }
}

/** `VACUUM graft.t KEEP FROM <version>` — [[Snapshots.vacuum]]:
  * reclaim manifests and unreferenced files below the floor. The
  * floor is REQUIRED: a bare `VACUUM graft.t` used to default to the
  * current head, immediately and irreversibly reclaiming every prior
  * version — users with Delta habits (where bare VACUUM keeps 7 days
  * and never touches the log) would destroy all time travel with a
  * no-arg statement (advisor r17). Refusing names the fix; callers
  * who really want head-only retention spell it explicitly. */
case class SnapshotVacuumCommand(parts: Seq[String],
                                 keepFrom: Option[Long]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveSnapshotDir(spark, parts)
    val floor = keepFrom.getOrElse(throw new IllegalArgumentException(
      "VACUUM on a snapshot table requires an explicit retention floor: " +
        s"VACUUM ${parts.mkString(".")} KEEP FROM <version> — a bare VACUUM " +
        "would irreversibly reclaim every version below the current head " +
        s"(${Snapshots.currentVersion(dir)}), destroying time travel/RESTORE"))
    Snapshots.vacuum(dir, floor)
    Seq.empty
  }
}

/** `RESTORE TABLE graft.t TO VERSION AS OF <v>` —
  * [[Snapshots.restore]]: rewind to the version's exact content as a
  * NEW commit, purely by manifest reference. Returns the new version. */
case class SnapshotRestoreCommand(parts: Seq[String],
                                  version: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(
    StructType(Seq(StructField("version", LongType))))

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveSnapshotDir(spark, parts)
    Seq(Row(Snapshots.restore(dir, version)))
  }
}

/** `RESTORE TABLE graft.t TO TIMESTAMP AS OF '<ts>'` (r18) — the
  * timestamp resolves through the commit wall-clock each manifest
  * records ([[Snapshots.versionAtTimestamp]]); the string parses in
  * the SESSION timezone, exactly like `SELECT ... TIMESTAMP AS OF`. */
case class SnapshotRestoreTsCommand(parts: Seq[String],
                                    ts: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(
    StructType(Seq(StructField("version", LongType))))

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveSnapshotDir(spark, parts)
    val millis =
      if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
      else {
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(
            org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
          .map(micros => math.floorDiv(micros, 1000L))
          .getOrElse(throw new IllegalArgumentException(
            "RESTORE ... TO TIMESTAMP AS OF wants epoch millis or " +
              s"'yyyy-MM-dd HH:mm:ss[.f]', got '$ts'"))
      }
    Seq(Row(Snapshots.restore(dir, Snapshots.versionAtTimestamp(dir, millis))))
  }
}

/** `DESCRIBE DETAIL graft.t` (r18) — the table's current-state card
  * (the Delta DESCRIBE DETAIL shape), answered from ONE manifest
  * read: version, commit instant, file/byte/row tallies (NULL when
  * the manifest cannot answer exactly — pre-r15 sizes, stats-less
  * files), partition columns under their LOGICAL names, properties,
  * and the live deletion-vector/change-data footprint. */
case class SnapshotDetailCommand(parts: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("format", StringType),
    StructField("location", StringType),
    StructField("version", LongType),
    StructField("committed_at", TimestampType),
    StructField("num_files", IntegerType),
    StructField("size_bytes", LongType),
    StructField("rows", LongType),
    StructField("num_columns", IntegerType),
    StructField("partition_columns", ArrayType(StringType)),
    StructField("properties", MapType(StringType, StringType)),
    StructField("dv_files", IntegerType),
    StructField("change_data_files", IntegerType))))

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveSnapshotDir(spark, parts)
    // ONE head resolution: resolving the version and the manifest
    // separately can straddle a concurrent commit and report an
    // internally inconsistent card (review r18)
    val v = Snapshots.currentVersion(dir)
    val man = Snapshots.manifestOf(dir, v)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val partLogical = man.partitionBy.map(p =>
      man.colMap.find(c => lc(c.physical) == lc(p)).map(_.logical).getOrElse(p))
    val bytes: java.lang.Long =
      if (man.files.forall(man.sizes.contains))
        java.lang.Long.valueOf(man.files.iterator.map(man.sizes(_)).sum)
      else null
    val rows: java.lang.Long =
      if (man.files.isEmpty) java.lang.Long.valueOf(0L)
      else if (man.files.forall(man.stats.contains))
        java.lang.Long.valueOf(man.files.iterator.map(man.stats(_).rows).sum -
          man.dvs.valuesIterator.map(_.size.toLong).sum)
      else null
    val committedAt = man.ts
      .map(ms => new java.sql.Timestamp(ms)).orNull
    Seq(Row("graft-snapshots", dir, v, committedAt, man.files.size, bytes,
      rows, man.schema.length, partLogical,
      man.props, man.dvs.count(_._2.nonEmpty), man.cdf.size))
  }
}
