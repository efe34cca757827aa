package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal `TableCatalog` front for [[DailyStoreDataSource]] stores, so
  * the filtered/dynamic overwrite paths are drivable through the
  * ENGINE'S own fronts instead of only the path-based writer:
  *
  *   spark.sql.catalog.dstore           = graft.sources.DailyStoreCatalog
  *   spark.sql.catalog.dstore.root      = /data/stores
  *   spark.sql.catalog.dstore.partitionCol = d          (default "d")
  *
  *   df.writeTo("dstore.cases").append()
  *   df.writeTo("dstore.cases").overwritePartitions()   // dynamic days
  *   df.writeTo("dstore.cases").overwrite($"d" === lit(day))
  *   spark.sql("INSERT OVERWRITE dstore.cases ...")
  *
  * Each table is the directory `<root>/<name>` in the hive-partitioned
  * parquet layout [[DailyStoreSink]] writes; a small `_dailystore_meta
  * .json` sidecar records the declared schema so empty tables resolve
  * (existing stores without one fall back to parquet inference). The
  * catalog is deliberately single-level (no namespaces) and does not
  * implement ALTER/RENAME — the store contract is create, write, read,
  * drop.
  */
class DailyStoreCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var pcol: String = "d"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"spark.sql.catalog.$name.root must point at the store root")
    pcol = Option(options.get("partitionCol")).getOrElse("d")
  }

  override def name(): String = catalogName

  private def spark = org.apache.spark.sql.SparkSession.active
  /** None for namespaced identifiers — this catalog is single-level,
    * and the TableCatalog contract wants "no such table" semantics for
    * lookups of names it cannot hold (so DROP TABLE IF EXISTS
    * cat.ns.t no-ops instead of aborting), not an IllegalArgument.
    */
  private def dirFor(ident: Identifier): Option[Path] =
    if (ident.namespace().nonEmpty) None
    else Some(new Path(root, ident.name()))
  private def fs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())
  private def metaPath(dir: Path) = new Path(dir, DailyStoreCatalog.MetaFile)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Array.empty
    else f.listStatus(r).filter(_.isDirectory)
      .map(s => Identifier.of(Array.empty, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    dirFor(ident).exists(d => fs(d).exists(d))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchTableException(ident)
    val meta = metaPath(dir)
    val schema =
      if (f.exists(meta)) {
        val in = f.open(meta)
        val bytes = try in.readAllBytes() finally in.close()
        DataType.fromJson(new String(bytes, "UTF-8")).asInstanceOf[StructType]
      } else
        // inference is a FULL leaf listing — cached under the store's
        // commit-state key (r16 measured it doubling the
        // catalog front's per-query discovery cost)
        DelegateCache.schemaFor(spark, dir.toString)(
          spark.read.parquet(dir.toString).schema)
    new DailyStoreTable(dir.toString, pcol, schema, viaCatalog = true)
  }

  /** `SELECT ... FROM cat.t VERSION AS OF <seq>` — the absolute commit
    * sequence from [[DailyStoreTimeTravel.history]]; version N = the
    * state AFTER commit N (Delta's convention). Requires retention
    * ([[DailyStoreTimeTravel.enable]]); see [[DailyStoreVersionRead]].
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (dir, schema) = liveFor(ident)
    val seq =
      try version.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"dailystore: VERSION AS OF wants the numeric commit seq from " +
            s"DailyStoreTimeTravel.history, got '$version'")
      }
    val f = fs(dir)
    // pending-manifest check BEFORE the head-gap check, so a reader
    // racing a live commit (sidecar stamped, version-dir rename not yet
    // landed) sees "commit mid-flight", not "ran with retention OFF"
    DailyStoreTimeTravel.assertNoPendingCommits(f, dir, dir.toString)
    val back = DailyStoreVersionRead.versionsBackFor(
      DailyStoreTimeTravel.versions(f, dir), seq, dir.toString,
      DailyStoreTimeTravel.lastCommitSeq(f, dir))
    new DailyStoreVersionTable(dir.toString, pcol, schema, back)
  }

  /** `SELECT ... FROM cat.t TIMESTAMP AS OF <ts>` — newest state whose
    * commit time is at or before the timestamp (micros since epoch).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (dir, schema) = liveFor(ident)
    val f = fs(dir)
    // same mid-flight-commit ordering as the VERSION AS OF front
    DailyStoreTimeTravel.assertNoPendingCommits(f, dir, dir.toString)
    val back = DailyStoreVersionRead.versionsBackForTimestamp(
      DailyStoreTimeTravel.versions(f, dir), f, timestampMicros, dir.toString,
      DailyStoreTimeTravel.lastCommitSeq(f, dir))
    new DailyStoreVersionTable(dir.toString, pcol, schema, back)
  }

  /** The live table's dir + resolved schema (shared by the version
    * overloads — a version read serves the live column set).
    */
  private def liveFor(ident: Identifier): (Path, StructType) = {
    val table = loadTable(ident).asInstanceOf[DailyStoreTable]
    val dir = dirFor(ident).get // loadTable above threw on None
    (dir, table.schema())
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(schema.fieldNames.contains(pcol),
      s"dailystore table needs its partition column '$pcol' in the schema")
    // the store's layout is fixed (hive dirs on pcol): accept only a
    // declaration that matches it — silently honoring a DIFFERENT
    // declared partitioning would partition by pcol anyway
    val declared = partitions.map(_.describe()).toSeq
    require(declared.isEmpty || declared == Seq(s"identity($pcol)") ||
        declared == Seq(pcol),
      s"dailystore tables are partitioned by '$pcol' only; " +
        s"got PARTITIONED BY (${declared.mkString(", ")})")
    val dir = dirFor(ident).getOrElse(throw new IllegalArgumentException(
      s"dailystore catalog is single-level; got ${ident.namespace().mkString(".")}"))
    val f = fs(dir)
    if (f.exists(dir)) throw new TableAlreadyExistsException(ident)
    f.mkdirs(dir)
    val out = f.create(metaPath(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    new DailyStoreTable(dir.toString, pcol, schema, viaCatalog = true)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "dailystore: ALTER is not part of the store contract")

  override def dropTable(ident: Identifier): Boolean =
    dirFor(ident).exists { dir =>
      val f = fs(dir)
      f.exists(dir) && f.delete(dir, true)
    }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "dailystore: RENAME is not part of the store contract")

  override def invalidateTable(ident: Identifier): Unit = ()

  override def defaultNamespace(): Array[String] = Array.empty

  /** Unused by this catalog (single-level); required by the interface. */
  def listTables(): Array[Identifier] = listTables(Array.empty)
}

object DailyStoreCatalog {
  /** The store's durable schema sidecar: raw `StructType.json`, stamped
    * by CREATE TABLE and (r20) by every connector commit, read FIRST by
    * table resolution — so a store stays resolvable even when a commit
    * removes its every day partition (no parquet footer to infer from). */
  private[sources] val MetaFile = "_dailystore_meta.json"

  /** Register a catalog named `name` over `root` on the session. */
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               root: String, partitionCol: String = "d"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[DailyStoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.partitionCol", partitionCol)
  }
}
