package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin over a directory tree of snapshot targets (r11) — the
  * SQL-surface face of the V2 connector: register once,
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.SnapshotCatalog
  *   spark.sql.catalog.graft.root = /data/graft
  * }}}
  *
  * and every target directory under the root is a first-class SQL
  * table — `SELECT * FROM graft.prod.customers`,
  * `INSERT INTO graft.prod.customers VALUES (...)` (a CDC delta batch
  * through the store's own locked commit), and
  * `DELETE FROM graft.prod.customers WHERE keys IN (...)` (key-addressed
  * tombstones, see [[SnapshotTable.deleteWhere]]). Identifier mapping is
  * the obvious one: `graft.<ns...>.<name>` ↔ `<root>/<ns...>/<name>`;
  * a table EXISTS iff its directory does (the store bootstraps the
  * manifest on first merge, so CREATE is just mkdir).
  *
  * Reference anchor: the reference's consumers address DynamoDB tables
  * by NAME through a control plane (`app/lambdas/initiate-lambda-backfill/
  * main.py:34-44` retargets by table name); this catalog is that
  * name-not-path addressing for the Spark-native store.
  */
class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires spark.sql.catalog.$name.root=<dir>"))
  }
  override def name(): String = catalogName

  /** FunctionCatalog face (r13): exposes the store's `bucket` transform
    * so Spark's storage-partitioned-join machinery can resolve the
    * KeyGroupedPartitioning every [[SnapshotScan]] reports — the enabler
    * for zero-exchange snapshot ⋈ snapshot key joins.
    */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      SnapshotSource.BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def dirOf(ident: Identifier): Path =
    new Path((root +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  private def fs = new Path(root)
    .getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((root +: namespace.toSeq).mkString("/"))
    if (!fs.exists(ns)) Array.empty
    else fs.listStatus(ns).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean = fs.exists(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    // `<name>__changes` is the table's CHANGE FEED companion (r11):
    // `spark.readStream.table("graft.ns.t__changes")` streams the raw
    // committed delta rows — name-addressed streaming consumption with
    // no path in user code. Virtual: not listed, not creatable, reads
    // the same directory.
    val ChangesSuffix = "__changes"
    if (ident.name().endsWith(ChangesSuffix)) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(ChangesSuffix))
      if (!tableExists(base))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(base)
      new SnapshotChangesTable(dirOf(base).toString)
    } else {
      if (!tableExists(ident))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      new SnapshotTable(dirOf(ident).toString)
    }
  }

  /** SQL time travel (r11): `SELECT ... FROM graft.ns.t VERSION AS OF
    * '<manifest>'` — the catalog pins the retained committed version
    * into the table, and the scan refuses orphans exactly like the
    * option-based path ([[SnapshotScan.planInputPartitions]]).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new SnapshotTable(dirOf(ident).toString, pinnedVersion = Some(version))
  }

  /** SQL `TIMESTAMP AS OF` (r12; r13 hardening): Spark hands the
    * literal as MICROSECONDS since epoch; the resolved version is the
    * NEWEST retained committed manifest whose commit time is ≤ the
    * asked instant, i.e. the state a reader at that moment would have
    * seen. The commit time is the wall clock the WRITER recorded in
    * the committed-version journal at publish (r13 — immune to
    * filesystems with 1 s mtime granularity, where two commits could
    * share or invert mtimes and resolve an instant to the wrong
    * version); manifest mtime is the fallback only for versions
    * journaled before the timestamped format existed. Fails loudly
    * when the instant precedes the oldest retained commit (same
    * contract as an unknown VERSION AS OF: a silently-latest or
    * silently-empty result would look exactly like a valid answer).
    * Orphaned manifests can't resolve — versions() reads the committed
    * journal, never a directory listing.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val dir = dirOf(ident)
    val tsMs = timestamp / 1000L
    val spark = SparkSession.active
    val vs = graft.streaming.SnapshotStore.versions(spark, dir.toString)
    val journaled =
      graft.streaming.SnapshotStore.commitTimes(spark, dir.toString)
    val eligible = vs
      .map(n => n -> journaled.getOrElse(n,
        fs.getFileStatus(new Path(dir, n)).getModificationTime))
      .filter(_._2 <= tsMs)
    require(eligible.nonEmpty,
      s"TIMESTAMP AS OF ${tsMs}ms precedes the oldest retained committed " +
        s"version of $ident (retained: ${vs.mkString(", ")})")
    // newest by COMMIT time (not by versions()' mtime order, which an
    // mtime inversion could scramble); name breaks exact-time ties
    new SnapshotTable(dir.toString,
      pinnedVersion = Some(eligible.maxBy { case (n, t) => (t, n) }._1))
  }

  /** SQL `CALL graft.system.analyze('ns.t')` (r13, VERDICT r12 #4):
    * Spark's `ANALYZE TABLE` statement does not route to v2 catalogs,
    * so ANALYZE enters through the V2 ProcedureCatalog instead. The
    * procedure measures the table's RESOLVED state in one aggregate
    * pass ([[SnapshotTableStats.analyze]]), persists `_STATS` pinned to
    * the measured version, and returns one (version, rows, bytes)
    * summary row.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    import org.apache.spark.sql.connector.catalog.procedures._
    require(ident.namespace.toSeq == Seq("system") && ident.name == "analyze",
      s"unknown procedure $ident — this catalog serves graft.system.analyze")
    new UnboundProcedure {
      override def name(): String = "analyze"
      override def description(): String =
        "measure a graft-snapshot table's resolved state into _STATS"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "analyze"
          override def description(): String =
            "measure a graft-snapshot table's resolved state into _STATS"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table",
              org.apache.spark.sql.types.StringType)
              .comment("table as 'namespace.name' within this catalog")
              .build())
          override def isDeterministic: Boolean = false
          override def call(input: org.apache.spark.sql.catalyst.InternalRow)
              : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val ref = input.getUTF8String(0).toString
            val parts = ref.split("\\.")
            require(parts.length >= 2,
              s"analyze: expected 'namespace.name', got '$ref'")
            val tblIdent = Identifier.of(parts.init, parts.last)
            require(tableExists(tblIdent), s"analyze: no such table $tblIdent")
            val st = SnapshotTableStats.analyze(SparkSession.active,
              dirOf(tblIdent).toString)
            val out = new org.apache.spark.sql.connector.read.LocalScan {
              override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
                Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](
                    org.apache.spark.unsafe.types.UTF8String.fromString(st.version),
                    st.rows, st.bytes)))
              override def readSchema(): StructType = StructType(Seq(
                org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("rows", org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.LongType)))
            }
            java.util.Collections.singletonList(
              out: org.apache.spark.sql.connector.read.Scan).iterator()
          }
        }
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "analyze"))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft-snapshot tables bucket internally; partitioning is not supported")
    // the store's layout is fixed (keys/sequenceNumber/newImage resolved
    // from 4-column CDC deltas) — accept an empty or matching schema,
    // refuse anything else loudly rather than silently ignoring it
    require(schema.isEmpty ||
        schema.fieldNames.toSeq == SnapshotSource.Schema.fieldNames.toSeq,
      s"graft-snapshot tables have the fixed resolved schema " +
        s"${SnapshotSource.Schema.simpleString}; got ${schema.simpleString}")
    val dir = dirOf(ident)
    require(!fs.exists(dir), s"table $ident already exists")
    fs.mkdirs(dir)
    new SnapshotTable(dir.toString)
  }

  /** Schema evolution (r12): `ALTER TABLE graft.ns.t ADD COLUMNS
    * (x BIGINT, ...)` / `DROP COLUMN x` — PROJECTED columns over the
    * schemaless JSON images. The store's physical layout never changes
    * (items stay opaque 4-column CDC deltas, exactly the reference's
    * schemaless-item reality — app/lambdas/lambda-backfill/main.py:35-38
    * passes images verbatim); an added column is a READ-SIDE projection
    * `newImage.$.<name>` cast to the declared type, resolved in the
    * scan. Rows of any generation read uniformly: images lacking the
    * field (or holding an incompatible type) project NULL — the same
    * aligned-as-nulls contract [[graft.streaming.SnapshotStore]]'s
    * diffVersions applies across drifted schemas, lifted to the catalog.
    * `cdc_schema_drift` (the streaming drift alarm) is the natural feed
    * for deciding WHEN a field has stabilized enough to project.
    *
    * Base store columns can be neither added nor dropped; projected
    * types are scalar (string/bigint/int/double/boolean) — nested
    * extraction belongs in queries, not table metadata. ALTER is an
    * admin-plane metadata write (last writer wins on `_COLUMNS`);
    * concurrent ALTERs are not a supported workload.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    val spark = SparkSession.active
    val current = SnapshotProjectedColumns.read(spark.sessionState.newHadoopConf(), dir)
    val updated = changes.foldLeft(current) {
      case (cols, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          s"nested columns are not supported: ${add.fieldNames.mkString(".")}")
        val n = add.fieldNames()(0)
        require(!SnapshotSource.Schema.fieldNames.contains(n),
          s"column '$n' is a base store column")
        require(!n.startsWith("_"),
          s"column '$n': underscore-prefixed names are reserved for " +
            "metadata columns (_bucket) and internal files")
        require(!cols.exists(_.name == n), s"column '$n' is already projected")
        require(SnapshotProjectedColumns.supported(add.dataType),
          s"projected columns must be string/bigint/int/double/boolean; " +
            s"got ${add.dataType.catalogString} for '$n'")
        cols :+ org.apache.spark.sql.types.StructField(n, add.dataType,
          nullable = true)
      case (cols, del: TableChange.DeleteColumn) =>
        require(del.fieldNames.length == 1,
          s"nested columns are not supported: ${del.fieldNames.mkString(".")}")
        val n = del.fieldNames()(0)
        require(!SnapshotSource.Schema.fieldNames.contains(n),
          s"column '$n' is a base store column and cannot be dropped")
        require(cols.exists(_.name == n), s"column '$n' is not projected")
        cols.filterNot(_.name == n)
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"graft-snapshot ALTER supports ADD/DROP of projected columns only; " +
            s"got ${other.getClass.getSimpleName}")
    }
    SnapshotProjectedColumns.write(spark, dir, updated)
    new SnapshotTable(dir)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(dirOf(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(tableExists(oldIdent),
      s"table $oldIdent does not exist")
    require(!tableExists(newIdent), s"table $newIdent already exists")
    fs.mkdirs(dirOf(newIdent).getParent)
    require(fs.rename(dirOf(oldIdent), dirOf(newIdent)),
      s"rename $oldIdent -> $newIdent failed")
  }
}

/** The `_COLUMNS` metadata file: one projected column per line as
  * `name<TAB>catalogString`. Lives next to the table's manifests; read
  * at table load (driver-side, one tiny file), written only by ALTER.
  */
private[graft] object SnapshotProjectedColumns {
  import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
    IntegerType, LongType, StringType, StructField}

  private val FileName = "_COLUMNS"

  def supported(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | BooleanType => true
    case _ => false
  }

  def read(conf: org.apache.hadoop.conf.Configuration,
           dir: String): Seq[StructField] = {
    val root = new Path(dir)
    graft.streaming.CommitProtocol.read(root.getFileSystem(conf), root, FileName).toSeq
      .flatMap(_.linesIterator).filter(_.nonEmpty).map { line =>
        val Array(n, t) = line.split("\t", 2)
        StructField(n, DataType.fromDDL(t), nullable = true)
      }
  }

  /** Replaced through the target's commit protocol: a crash at any point
    * leaves either the complete old file or the complete new one, never
    * a silent revert to the base 4-column schema.
    */
  def write(spark: SparkSession, dir: String, cols: Seq[StructField]): Unit =
    graft.streaming.SnapshotStore.replaceMeta(spark, dir, FileName,
      cols.map(f => s"${f.name}\t${f.dataType.catalogString}").mkString("\n"))
}
