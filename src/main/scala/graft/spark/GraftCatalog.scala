package graft.spark

import java.util.{Map => JMap, UUID}
import scala.jdk.CollectionConverters._

import graft.catalog.Graft
import graft.format.TableMetadata
import graft.objects._
import graft.storage.{LocalStorageOps, StorageConf, StorageOps}
import graft.tree.{TreeOps, TreeRoot}
import graft.txn.{Action, ActionType, Transaction}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, _}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark V2 catalog plugin backed by the graft transactional tree
  * (reference analog: OlympiaIcebergCatalog.java:77 — the catalog
  * surface exposed to the engine; here it is a NATIVE Spark catalog,
  * no Iceberg indirection).
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.<name> = graft.spark.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = /path/to/catalog/root
  * }}}
  *
  * Transactions: every operation runs inside either the session
  * transaction (BEGIN/COMMIT/ROLLBACK — SQL via
  * [[GraftSparkExtensions]] or the begin/commit/rollbackTransaction
  * API) or an ephemeral auto-commit transaction. `loadTable` always
  * resolves through the active transaction's running root, so reads
  * inside a transaction see its own writes while outside readers see
  * only committed roots (reference beginOrLoadTransaction,
  * OlympiaIcebergCatalog.java:639-673). No table caching — a cached
  * table would bypass snapshot resolution (SURVEY §7.5 risk register).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ViewCatalog
    with ProcedureCatalog with FunctionCatalog {

  /** Column DEFAULT values: Spark encodes `DEFAULT <expr>` into field
    * metadata (CURRENT_DEFAULT for future INSERTs — applied by the
    * analyzer; EXISTS_DEFAULT for rows that predate the column —
    * applied by the parquet readers to files missing the field), so a
    * metadata-only ADD COLUMN with a default never rewrites data.
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.Set.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---------------- V2 functions ----------------
  //
  // Partition-transform functions resolve under the EMPTY namespace
  // (where Spark's transform resolution looks) and under `system`
  // (where users call them: SELECT cat.system.bucket(16, k)).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      (GraftFunctionCatalog.TransformNames ++ GraftFunctionCatalog.TextNames)
        .map(Identifier.of(namespace, _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")))
      GraftFunctionCatalog.load(ident.name()).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  // ---------------- stored procedures (CALL <cat>.system.<proc>) ----------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names
        .map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  private var catalogName: String = _
  private[graft] var storage: StorageOps = _
  /** Executor-reconstructible storage handle (distributed listings). */
  private[graft] var storageConf: StorageConf = _
  /** Session-level explicit transaction (BEGIN .. COMMIT). */
  @volatile private var sessionTxn: Option[Transaction] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse'"))
    // storage=object routes ALL catalog traffic through the narrow
    // object-store API (conditional PUT / GET / LIST — no renames),
    // backed on disk so Spark parquet jobs still get real paths
    storageConf = StorageConf(warehouse,
      Option(options.get("storage")).getOrElse("local"))
    storage = storageConf.create()
    if (!Graft.catalogExists(storage)) Graft.createCatalog(storage, CatalogDef())
  }

  override def name(): String = catalogName

  // ---------------- transaction plumbing ----------------

  def beginTransaction(isolation: Option[String] = None): Unit = synchronized {
    require(sessionTxn.isEmpty, "a transaction is already in progress")
    sessionTxn = Some(Graft.beginTransaction(storage, isolation))
  }

  def commitTransaction(): Unit = synchronized {
    val txn = sessionTxn.getOrElse(
      throw new IllegalStateException("no transaction in progress"))
    try Graft.commitTransaction(storage, txn)
    finally { sessionTxn = None; txn.close() }
  }

  def rollbackTransaction(): Unit = synchronized {
    require(sessionTxn.isDefined, "no transaction in progress")
    val txn = sessionTxn.get
    sessionTxn = None // discard: nothing was published
    txn.close()
  }

  def transactionActive: Boolean = sessionTxn.isDefined

  /** Run `f` in the session txn (no commit) or an ephemeral one
    * (auto-commit).
    */
  private def inTxn[T](f: Transaction => T): T = sessionTxn match {
    case Some(txn) => f(txn)
    case None =>
      val txn = Graft.beginTransaction(storage)
      try {
        val out = f(txn)
        Graft.commitTransaction(storage, txn)
        out
      } finally txn.close() // drop the snapshot trees
  }

  private[spark] def tableKey(td: TableDef): String = {
    val root = TreeOps.findLatestRoot(storage).get
    try ObjectKeys.tableKey(td.namespaceName, td.name,
      Graft.catalogDef(storage, root))
    finally root.close()
  }

  private def ns1(namespace: Array[String]): String = {
    if (namespace.length != 1)
      throw new NoSuchNamespaceException(namespace)
    namespace(0)
  }

  // ---------------- namespaces ----------------

  override def listNamespaces(): Array[Array[String]] =
    inTxn(txn => Graft.showNamespaces(storage, txn).map(Array(_)).toArray)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (isDtxnPath(namespace) && namespace.length == 3)
      return Graft.distTransactionExists(storage, namespace(2))
    namespace.length == 1 &&
      inTxn(txn => Graft.namespaceExists(storage, txn, namespace(0)))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    try inTxn(txn =>
      Graft.describeNamespace(storage, txn, ns1(namespace)).properties.asJava)
    catch { case _: NoSuchElementException =>
      throw new NoSuchNamespaceException(namespace)
    }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    // CREATE NAMESPACE cat.sys.dtxns.<id> begins a distributed txn and
    // suspends it to storage (reference system-namespace protocol,
    // docs/iceberg.md:95-179)
    if (isDtxnPath(namespace) && namespace.length == 3) {
      val id = namespace(2)
      require(!Graft.distTransactionExists(storage, id),
        s"distributed transaction $id already exists")
      val latest = TreeOps.findLatestRoot(storage).get
      val cd = Graft.catalogDef(storage, latest)
      val running = TreeOps.forkRoot(latest)
      val now = System.currentTimeMillis()
      val txn = new Transaction(id, cd.txnIsolationLevel, latest, running,
        now, now + cd.txnTtlMillis)
      Graft.saveDistTransaction(storage, txn)
      return
    }
    inTxn(txn => Graft.createNamespace(storage, txn,
      NamespaceDef(ns1(namespace), metadata.asScala.toMap)))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    // ALTER NAMESPACE cat.sys.dtxns.<id> SET PROPERTIES('commit'='true')
    // resumes and commits the suspended txn (docs/spark.md:110-142)
    if (isDtxnPath(namespace) && namespace.length == 3) {
      val commit = changes.exists {
        case s: NamespaceChange.SetProperty =>
          s.property() == "commit" && s.value() == "true"
        case _ => false
      }
      require(commit, "only ('commit'='true') is supported on a dtxn namespace")
      val txn = Graft.loadDistTransaction(storage, namespace(2))
      try Graft.commitTransaction(storage, txn)
      finally txn.close()
      storage.deleteBatch(Seq(FileLocations.distTransactionDefPath(namespace(2))))
      return
    }
    alterRealNamespace(namespace, changes)
  }

  private def alterRealNamespace(namespace: Array[String],
      changes: Seq[NamespaceChange]): Unit = inTxn { txn =>
    val cur = Graft.describeNamespace(storage, txn, ns1(namespace))
    val props = changes.foldLeft(cur.properties) {
      case (p, set: NamespaceChange.SetProperty) =>
        p + (set.property() -> set.value())
      case (p, rm: NamespaceChange.RemoveProperty) => p - rm.property()
      case (p, _) => p
    }
    Graft.alterNamespace(storage, txn, cur.copy(properties = props),
      if (changes.forall(_.isInstanceOf[NamespaceChange.RemoveProperty]))
        ActionType.AlterNamespaceUnsetProps
      else ActionType.AlterNamespaceSetProps)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    // DROP NAMESPACE cat.sys.dtxns.<id> rolls the suspended txn back
    if (isDtxnPath(namespace) && namespace.length == 3) {
      val path = FileLocations.distTransactionDefPath(namespace(2))
      val existed = storage.exists(path)
      storage.deleteBatch(Seq(path))
      return existed
    }
    try inTxn { txn =>
      Graft.dropNamespace(storage, txn, ns1(namespace), cascade); true
    } catch { case _: IllegalArgumentException => false }
  }

  // ---------------- tables ----------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    inTxn(txn => Graft.showTables(storage, txn, ns1(namespace))
      .map(t => Identifier.of(namespace, t)).toArray)

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && inTxn(txn =>
      Graft.tableExists(storage, txn, ident.namespace()(0), ident.name()))

  override def loadTable(ident: Identifier): Table = {
    // branch view: <table>$branch_<name> — reads pin the branch head
    // (materialized inline, tag-style), writes advance the branch ref
    GraftCatalog.splitBranch(ident.name()) match {
      case (base, Some(bname)) => return inTxn { txn =>
        val td =
          try Graft.describeTable(storage, txn, ns1(ident.namespace()), base)
          catch { case _: NoSuchElementException =>
            throw new NoSuchTableException(ident)
          }
        val meta = TableMetadata.read(storage, td.metadataLocation)
        val head = meta.branches.getOrElse(bname,
          throw new NoSuchTableException(ident))
        val snap = meta.findSnapshot(storage, head).getOrElse(
          throw new IllegalStateException(
            s"branch $bname names expired snapshot $head"))
        new GraftTable(this, ident, td,
          meta.copy(currentSnapshotId = head, snapshots = Seq(snap),
            snapshotLog = Seq.empty), txn, storage)
      }
      case _ => ()
    }
    // <table>$changes: the row-level change feed as a batch +
    // micro-batch-streamable DSv2 table (snapshot lineage as changelog)
    if (ident.name().endsWith("$changes")) {
      val base = ident.name().dropRight("$changes".length)
      val ns = ns1(ident.namespace())
      val baseIdent = Identifier.of(ident.namespace(), base)
      val (td, meta) = inTxn { txn =>
        val td =
          try Graft.describeTable(storage, txn, ns, base)
          catch { case _: NoSuchElementException =>
            throw new NoSuchTableException(ident)
          }
        (td, TableMetadata.read(storage, td.metadataLocation))
      }
      return new GraftChangesTable(s"$catalogName.$ns.$base", td, meta,
        () => loadTable(baseIdent).asInstanceOf[GraftTable].meta, storage)
    }
    // <table>$views: the materialized views derived from this table,
    // with definitions and rewrite-grade freshness (each source's
    // watermark vs its CURRENT snapshot)
    if (ident.name().endsWith("$views")) {
      import graft.maintain.MaterializedViews._
      val base = ident.name().dropRight("$views".length)
      val ns = ns1(ident.namespace())
      val viewRows = inTxn { txn =>
        val td =
          try Graft.describeTable(storage, txn, ns, base)
          catch { case _: NoSuchElementException =>
            throw new NoSuchTableException(ident)
          }
        def currentOf(sns: String, st: String): Option[Long] =
          try Some(TableMetadata.read(storage,
            Graft.describeTable(storage, txn, sns, st).metadataLocation)
            .currentSnapshotId)
          catch { case scala.util.control.NonFatal(_) => None }
        parseDerived(td.properties.getOrElse(DerivedProp, ""))
          .flatMap { entry =>
            entry.split('.') match {
              case Array(vns, vn) =>
                try {
                  val vtd = Graft.describeTable(storage, txn, vns, vn)
                  val p = vtd.properties
                  val wm = p(RefreshedSnapshotProp).toLong
                  val wm2 = p.get(RefreshedSnapshot2Prop).map(_.toLong)
                  val srcFresh = currentOf(p(SourceNsProp),
                    p(SourceTableProp)).contains(wm)
                  val joinFresh = p.get(Join2NsProp).forall(jns =>
                    wm2.exists(w => currentOf(jns,
                      p(Join2TableProp)).contains(w)))
                  // n-ary views: every EXTRA side must be at its own
                  // watermark too, or the row reads fresh while the
                  // rewrite (correctly) declines
                  val extraJoins = parseJoinsExtra(
                    p.getOrElse(JoinsExtraProp, null))
                  val extraWms = p.get(RefreshedExtraProp)
                    .map(_.split(',').toSeq.map(_.trim.toLong))
                    .getOrElse(Seq.empty)
                  val extraFresh = extraJoins.size == extraWms.size &&
                    extraJoins.zip(extraWms).forall { case (j, w) =>
                      currentOf(j.ns, j.table).contains(w)
                    }
                  val vmeta = TableMetadata.read(storage,
                    vtd.metadataLocation)
                  val pending = vmeta.currentSnapshot.map(sn =>
                    sn.deletes.size + sn.posDeletes.size +
                      sn.eqDeletes.size).getOrElse(0).toLong
                  val stateMode =
                    if (p.get(GraftCatalog.MergeModeProp)
                        .contains(GraftCatalog.MergeModeMergeOnReadEq))
                      "eq-delta"
                    else "copy-on-write"
                  Some(MetadataTables.ViewRow(vns, vn,
                    s"${p(SourceNsProp)}.${p(SourceTableProp)}",
                    p.get(Join2NsProp).map(jns =>
                      (s"$jns.${p(Join2TableProp)}" +:
                        extraJoins.map(j => s"${j.ns}.${j.table}"))
                        .mkString(",")),
                    p.get(Join2NsProp).map(_ =>
                      p.getOrElse(
                        graft.maintain.MaterializedViews.JoinTypeProp,
                        "inner")),
                    p(GroupByProp),
                    p.get(graft.maintain.MaterializedViews.KeyExprsProp),
                    p(AggsProp), p.get(WhereProp),
                    wm, wm2, srcFresh && joinFresh && extraFresh,
                    stateMode, pending,
                    p.get(graft.maintain.MaterializedViews.RefreshedAtProp)
                      .map(at => math.max(0L,
                        (System.currentTimeMillis() - at.toLong) / 1000))))
                } catch {
                  // dropped / drifted view: a stale registry entry
                  case scala.util.control.NonFatal(_) => None
                }
              case _ => None
            }
          }
      }
      return MetadataTables.viewsTable(s"$catalogName.$ns.$base", viewRows)
    }
    // metadata tables: <table>$snapshots / <table>$files (reference
    // surfaces Iceberg metadata tables the same way,
    // OlympiaIcebergCatalog.java:360-367)
    MetadataTables.Suffixes.find(ident.name().endsWith(_)).foreach { suffix =>
      val base = ident.name().dropRight(suffix.length)
      val (meta, partCols) = inTxn { txn =>
        val td =
          try Graft.describeTable(storage, txn, ns1(ident.namespace()), base)
          catch { case _: NoSuchElementException =>
            throw new NoSuchTableException(ident)
          }
        (TableMetadata.read(storage, td.metadataLocation),
          PartitionTransforms.dirNames(GraftCatalog.specOf(td.properties)))
      }
      return MetadataTables.forSuffix(s"$catalogName.${ns1(ident.namespace())}.$base",
        suffix, meta, partCols, storage)
    }
    // catalog-wide object listing: <catalog>.sys.objects — a DSv2 scan
    // whose partitions are subtree roots under the pinned tree root;
    // the walk happens lazily at scan time, bounded by any pushed
    // kind/namespace predicates, and the driver holds O(cut width)
    // node paths (billion-object ambition, reference docs/index.md:17-19)
    if (ident.namespace().sameElements(Array("sys")) && ident.name() == "objects") {
      val latest = TreeOps.findLatestRoot(storage).get
      try {
        val cd = Graft.catalogDef(storage, latest)
        return new ObjectsTable(catalogName, latest.version, cd, storageConf,
          latest.path.get)
      } finally latest.close()
    }
    // distributed-txn protocol: sys.dtxns.dtxn_<id>.<ns>.<table> reads
    // the table through the suspended transaction's running root
    // (reference docs/spark.md:83-142)
    if (isDtxnPath(ident.namespace())) {
      val txn = Graft.loadDistTransaction(storage, ident.namespace()(2))
      try {
        val ns = ident.namespace()(3)
        val td =
          try Graft.describeTable(storage, txn, ns, ident.name())
          catch { case _: NoSuchElementException =>
            throw new NoSuchTableException(ident)
          }
        val meta = TableMetadata.read(storage, td.metadataLocation)
        // keep the dtxn path as the table's ident so writes route back
        // into the suspended transaction (commitWrite re-suspends it)
        return new GraftTable(this, ident, td, meta, txn, storage)
      } finally txn.close()
    }
    inTxn { txn => loadFromTxn(ident, txn) }
  }

  /** namespace array shaped `sys.dtxns.<txn-id>[.<real-ns>]` */
  private def isDtxnPath(namespace: Array[String]): Boolean =
    namespace.length >= 3 && namespace(0) == "sys" && namespace(1) == "dtxns"

  private def loadFromTxn(ident: Identifier, txn: Transaction): GraftTable = {
    val ns = ns1(ident.namespace())
    val td =
      try Graft.describeTable(storage, txn, ns, ident.name())
      catch { case _: NoSuchElementException => throw new NoSuchTableException(ident) }
    val meta = TableMetadata.read(storage, td.metadataLocation)
    new GraftTable(this, ident, td, meta, txn, storage)
  }

  /** Time travel: numeric `VERSION AS OF v` resolves the table against
    * CATALOG root version v (TreeOperations.java:373-395 semantics); a
    * non-numeric version names either a TABLE-LEVEL SNAPSHOT ID in the
    * unambiguous `'snap:<id>'` form (ids as `$snapshots` exposes them —
    * kept prefix-distinct because bare numerics already mean catalog
    * versions, and table snapshot ids are small integers that would
    * collide) or a table-level snapshot TAG / branch
    * (`Maintenance.createTag`), pinning that snapshot — found through
    * the snapshot log even after it spills out of the inline window.
    * (The REST facade needs no counterpart: it serves the FULL
    * snapshot history in the table metadata, so external engines pin
    * snapshots client-side per the Iceberg spec.)
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!version.matches("-?\\d+")) {
      // a non-numeric version checks NAMED CATALOG EXPORTS first
      // (docs/format.md:298-299 — "a string that does not resemble a
      // numeric value should map to a possible exported snapshot"):
      // catalog-level names outrank table-level tags, mirroring how
      // bare numerics already mean catalog versions
      val latest = TreeOps.findLatestRoot(storage).get
      val exported =
        try Graft.catalogDef(storage, latest).exportedSnapshots.get(version)
        finally latest.close()
      exported.foreach { rootPath =>
        return loadAtRoot(ident, TreeOps.loadRoot(storage, rootPath))
      }
    }
    if (!version.matches("-?\\d+")) return inTxn { txn =>
      val ns = ns1(ident.namespace())
      val td =
        try Graft.describeTable(storage, txn, ns, ident.name())
        catch { case _: NoSuchElementException => throw new NoSuchTableException(ident) }
      val meta = TableMetadata.read(storage, td.metadataLocation)
      val sid =
        if (version.startsWith("snap:"))
          version.stripPrefix("snap:").trim.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"malformed snapshot pin (want snap:<numeric id>): $version"))
        else meta.refs.getOrElse(version, meta.branches.getOrElse(version,
          throw new IllegalArgumentException(
            s"no such tag or branch on ${ident.name()}: $version")))
      val snap = meta.findSnapshot(storage, sid).getOrElse(
        throw new IllegalArgumentException(
          s"$version names no live snapshot of ${ident.name()} " +
            s"(id $sid expired or never existed)"))
      new GraftTable(this, ident, td,
        meta.copy(currentSnapshotId = sid, snapshots = Seq(snap),
          snapshotLog = Seq.empty), txn, storage)
    }
    val latest = TreeOps.findLatestRoot(storage).get
    try loadAtRoot(ident, TreeOps.findRootForVersion(storage, latest, version.toLong))
    finally latest.close()
  }

  /** `TIMESTAMP AS OF t` — Spark passes microseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val latest = TreeOps.findLatestRoot(storage).get
    try loadAtRoot(ident,
      TreeOps.findRootBeforeTimestamp(storage, latest, timestamp / 1000L))
    finally latest.close()
  }

  /** The table as of the catalog version `root` holds, read through a
    * frozen fork of `root`: the decoded root file is shared, not read
    * again, and `root` stays usable by the caller.
    */
  private def loadAtRoot(ident: Identifier, root: TreeRoot): Table = {
    val frozen = TreeOps.forkRoot(root)
    val txn = new Transaction(UUID.randomUUID().toString,
      IsolationLevel.Snapshot, frozen, frozen,
      System.currentTimeMillis(), Long.MaxValue)
    try {
      val ns = ns1(ident.namespace())
      val td =
        try Graft.describeTable(storage, txn, ns, ident.name())
        catch { case _: NoSuchElementException => throw new NoSuchTableException(ident) }
      val meta = TableMetadata.read(storage, td.metadataLocation)
      new GraftTable(this, ident, td, meta, txn, storage)
    } finally txn.close() // table carries materialized meta; tree not needed
  }

  /** The modern create API: converting to the legacy StructType
    * variant must keep column COMMENTs and DEFAULTs — defaults encode
    * into field metadata (CURRENT_DEFAULT for the analyzer's INSERT
    * fill; EXISTS_DEFAULT for readers of files that predate the
    * column) before delegating.
    */
  override def createTable(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val fields = columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        mb.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).foreach { d =>
        mb.putString("CURRENT_DEFAULT", d.getSql)
        mb.putString("EXISTS_DEFAULT", d.getSql)
      }
      StructField(c.name(), c.dataType(), c.nullable(), mb.build())
    }
    createTable(ident, StructType(fields), partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    // identity partitioning = partition-clustered files (stats make
    // pruning exact); derived transforms (bucket/truncate/years/months/
    // days/hours) add HIDDEN Hive directory columns — the table schema
    // never carries them, reads prune by rewriting source-column
    // predicates ([[PartitionTransforms]])
    val spec = PartitionTransforms.fromTransforms(partitions.toSeq)
    spec.foreach { f =>
      require(schema.fieldNames.contains(f.col),
        s"partition source column ${f.col} not in table schema")
      require(!f.isIdentity || f.col.nonEmpty, s"bad field $f")
    }
    require(!schema.fieldNames.exists(_.startsWith("gp_")),
      "column names starting with gp_ are reserved for hidden partitioning")
    val partCols = spec.filter(_.isIdentity).map(_.col)
    val ns = ns1(ident.namespace())
    // Hive convention: partition columns go LAST in the stored schema.
    // This also makes the relation's column order equal the file
    // scan's (data columns ++ partition columns), so Catalyst never
    // needs a reorder Project over the relation — which would break
    // the DELETE FROM pattern match on SupportsDeleteV2 tables.
    val storedSchema =
      if (partCols.isEmpty) schema
      else {
        val (partFields, dataFields) =
          schema.fields.partition(f => partCols.contains(f.name))
        StructType(dataFields ++ partFields)
      }
    val props = properties.asScala.toMap ++
      (if (partCols.nonEmpty)
        Map(GraftCatalog.PartitionColsProp -> partCols.mkString(","))
      else Map.empty) ++
      (if (spec.exists(!_.isIdentity))
        Map(GraftCatalog.PartitionSpecProp -> PartitionTransforms.render(spec))
      else Map.empty)
    inTxn(GraftCatalog.createTable(storage, _, ns, ident.name(),
      TableMetadata.empty(storedSchema.json), props))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (ns, t) = editDef(ident, TableAlterations.actionType(changes)) {
      (td, meta) =>
        val base = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
        // change application shared 1:1 with the REST facade's schema
        // commits ([[TableAlterations]]) — one rule set, no drift
        val (schema, props) = TableAlterations(base, td.properties, changes)
        (meta.copy(schemaJson = schema.json), props)
    }
    // if this table is a materialized view (renamed column, stripped
    // definition property, watermark bump), cached rewrite decisions
    // about it are void
    GraftMvRewrite.invalidate(name(), s"$ns.$t")
    loadTable(ident)
  }

  /** Partition-spec EVOLUTION: add or drop one partition field —
    * metadata-only (one property commit, zero data movement). New
    * writes lay out under the evolved spec; existing files keep their
    * epoch's directory layout and scans read each epoch under its own
    * spec (layouts are self-describing — [[PartitionField.dirName]] is
    * arg-qualified). Compaction migrates everything to the current
    * spec. The table SCHEMA never changes: identity sources are
    * ordinary columns whether or not they currently drive layout.
    */
  private[graft] def evolvePartitionSpec(ident: Identifier, add: Boolean,
      field: PartitionField): Unit =
    editDef(ident, ActionType.AlterTable) { (td, meta) =>
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      // user-facing column name → physical (rename-safe, like the spec
      // recorded at CREATE)
      val physField = field.copy(col = schema.fields.find(_.name == field.col)
        .map(ColumnMapping.physicalName)
        .getOrElse(throw new IllegalArgumentException(
          s"partition source column ${field.col} not in table schema")))
      if (!physField.isIdentity) // typing must be valid for the source
        physField.dirType(ColumnMapping.toPhysical(schema)(physField.col).dataType)
      val cur = GraftCatalog.specOf(td.properties)
      val next =
        if (add) {
          require(!cur.exists(_.dirName == physField.dirName),
            s"partition field already present: ${field.render}")
          cur :+ physField
        } else {
          require(cur.exists(_.dirName == physField.dirName),
            s"no such partition field: ${field.render}")
          cur.filterNot(_.dirName == physField.dirName)
        }
      val identCols = next.filter(_.isIdentity).map(_.col)
      (meta, td.properties -
        GraftCatalog.PartitionColsProp - GraftCatalog.PartitionSpecProp ++
        (if (identCols.nonEmpty)
          Map(GraftCatalog.PartitionColsProp -> identCols.mkString(","))
        else Map.empty) ++
        (if (next.exists(!_.isIdentity))
          Map(GraftCatalog.PartitionSpecProp -> PartitionTransforms.render(next))
        else Map.empty))
    }

  override def dropTable(ident: Identifier): Boolean =
    try inTxn { txn =>
      Graft.dropTable(storage, txn, ns1(ident.namespace()), ident.name())
      // a dropped materialized view must stop serving rewrites NOW,
      // not at the memo's TTL
      GraftMvRewrite.invalidate(name(),
        s"${ns1(ident.namespace())}.${ident.name()}")
      true
    } catch { case _: IllegalArgumentException => false }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().sameElements(newIdent.namespace()),
      "cross-namespace rename unsupported")
    inTxn(txn => Graft.renameTable(storage, txn, ns1(oldIdent.namespace()),
      oldIdent.name(), newIdent.name()))
  }

  // ---------------- write commit (called from GraftAppendBatchWrite) ----------------

  /** Change the def properties and metadata of the table `ident`
    * names as one table edit (ALTER, partition evolution); returns its
    * namespace and name. A branch identifier is refused: the def and
    * its schema belong to the whole table.
    */
  private def editDef(ident: Identifier, actionType: String)(
      f: (TableDef, TableMetadata) => (TableMetadata, Map[String, String]))
      : (String, String) =
    withTable(ident) { (txn, ns, t, branch) =>
      branch.foreach(b => throw new IllegalArgumentException(
        s"cannot alter branch $b of $ns.$t: ALTER changes the whole " +
          s"table — alter $ns.$t instead"))
      GraftCatalog.stageTableEdit(storage, txn, ns, t, actionType)(
        GraftCatalog.editTable(_, _, ns, t)((_, td, meta) => f(td, meta)))
      (ns, t)
    }

  /** Run one table write in the transaction `ident` addresses, with
    * the namespace, table and branch it names. `sys.dtxns.<id>.<ns>.<t>`
    * applies to the suspended distributed transaction and suspends it
    * again: nothing publishes until its commit property is set
    * (write-audit-publish, docs/index.md:54-64). Any other identifier
    * runs in the session transaction or an auto-commit one, and
    * `t$branch_x` targets branch `x` of `t` (its commits advance the
    * branch ref; main stays untouched).
    */
  private def withTable[T](ident: Identifier)(
      f: (Transaction, String, String, Option[String]) => T): T = {
    val (t, branch) = GraftCatalog.splitBranch(ident.name())
    if (!isDtxnPath(ident.namespace()))
      return inTxn(f(_, ns1(ident.namespace()), t, branch))
    val txn = Graft.loadDistTransaction(storage, ident.namespace()(2))
    try {
      val out = f(txn, ident.namespace()(3), t, branch)
      Graft.saveDistTransaction(storage, txn)
      out
    } finally txn.close()
  }

  /** Commit already-staged data files as a snapshot that appends (or
    * replaces) the table's file list. Registered as a replay so a lost
    * commit race re-merges with the winner's file list instead of
    * clobbering it (the append/append rebase the reference's matrix
    * declares resolvable, AnalyzeActionConflicts.java:171-187). The
    * parquet staging itself happens in the DSv2 write
    * ([[GraftAppendBatchWrite]]) before this runs on the driver.
    */
  private[spark] def commitFiles(ident: Identifier,
      newFiles: Seq[graft.format.DataFileEntry], overwrite: Boolean): Unit = {
    val (op, edit) =
      if (overwrite) ("overwrite", graft.format.OverwriteFiles(newFiles))
      else ("append", graft.format.AppendFiles(newFiles))
    withTable(ident) { (txn, ns, t, branch) =>
      GraftCatalog.stageTableEdit(storage, txn, ns, t,
        if (overwrite) ActionType.TableUpdate else ActionType.TableInsert,
        GraftCatalog.filesArgs(newFiles))(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch))
    }
  }

  /** Copy-on-write DELETE WHERE, FILE-SELECTIVE: only files whose
    * stats may contain predicate-matching rows are rewritten; every
    * other file carries into the new snapshot untouched — at 100 TB a
    * selective delete rewrites a handful of files, not the table
    * (`pruneExprs` are the translated conjuncts; pruning on a subset
    * of conjuncts is still sound). SQL DELETE removes only rows where
    * the condition is TRUE; a NULL predicate (e.g. x > 5 with x IS
    * NULL) must KEEP the row.
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, ident: Identifier,
      condition: org.apache.spark.sql.Column,
      pruneExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        Seq.empty,
      complete: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // with the COMPLETE conjunct set, wholly-covered files (stats
    // prove every row matches) drop from metadata without being read
    selectiveRewrite(spark, ident, pruneExprs,
      df => df.filter(not(coalesce(condition, lit(false)))),
      "delete", ActionType.TableDelete,
      wholeFileExprs = if (complete) pruneExprs else Seq.empty)
  }

  /** Merge-on-read DELETE: commit the PREDICATE (physical names —
    * stable across renames), rewrite nothing. Reads apply it as a
    * residual until a rewrite/compaction materializes it. At 100 TB a
    * sparse delete is one small metadata commit instead of a terabyte
    * rewrite. `exprs` must be the COMPLETE translated conjunct set —
    * a partial predicate would delete too much.
    */
  private[spark] def morDelete(ident: Identifier,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Unit = {
    require(exprs.nonEmpty, "merge-on-read delete needs a predicate")
    withTable(ident) { (txn, ns, t, branch) =>
      val td = Graft.describeTable(storage, txn, ns, t)
      val meta = TableMetadata.read(storage, td.metadataLocation)
      val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      val renames = ColumnMapping.renames(schema)
      val cond = exprs.reduce(
        org.apache.spark.sql.catalyst.expressions.And(_, _))
      val sql = ColumnMapping.toPhysicalExpr(cond, renames).sql
      // bind to the OBSERVED sequence (of the branch head when
      // deleting on a branch): if this commit loses a race and
      // replays on the winner's tree, the racing append's files stay
      // out of the predicate's scope (same replay semantics as the
      // copy-on-write path, which only swaps the files it scanned)
      val atSeq = meta.headSnapshot(storage, branch).map(_.seq).getOrElse(0L)
      val edit = graft.format.AddDeletePredicate(sql, atSeq)
      GraftCatalog.stageTableEdit(storage, txn, ns, t, ActionType.TableDelete,
        Map("predicate" -> sql))(
        GraftCatalog.applyFilesCommit(_, _, ns, t, "delete", edit, branch))
    }
  }

  /** Shared engine of DELETE/UPDATE: split the snapshot's files into
    * touched (stats overlap the predicate) and untouched, rewrite only
    * the touched rows through `rewrite`, commit untouched ++ rewritten
    * as the new snapshot.
    */
  private[graft] def selectiveRewrite(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier,
      pruneExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      rewrite: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      op: String, actionType: String,
      // the COMPLETE conjunct set of a DELETE (empty = not a delete /
      // set incomplete): files whose stats prove EVERY row matches
      // drop from metadata without being read
      wholeFileExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        Seq.empty): Unit = {
    val (ns, t, branch, meta, td) = withTable(ident) { (txn, ns, t, branch) =>
      val td = Graft.describeTable(storage, txn, ns, t)
      (ns, t, branch, TableMetadata.read(storage, td.metadataLocation), td)
    }
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    // files + their stats speak PHYSICAL names; the rewrite fn speaks
    // logical — read physical, re-label, rewrite, write physical
    val renames = ColumnMapping.renames(schema)
    val physSchema = ColumnMapping.toPhysical(schema)
    val physPrune = pruneExprs.map(ColumnMapping.toPhysicalExpr(_, renames))
    // branch targets read (and later replace) the BRANCH head's state
    val headSnap = meta.headSnapshot(storage, branch)
    val current = headSnap
      .map(graft.format.Manifests.filesOf(storage, _)).getOrElse(Seq.empty)
    val touched =
      if (physPrune.isEmpty) current
      else current.filter(f =>
        physPrune.forall(e => FilePruning.mayMatch(e, f, physSchema)))
    if (touched.isEmpty) return // provably no matching rows anywhere
    // partition-aligned (and other stats-entailed) DELETEs: a wholly-
    // covered file contributes no surviving rows — drop it unread. At
    // 100 TB, DELETE WHERE part = X is then a pure metadata commit.
    val partial =
      if (wholeFileExprs.isEmpty) touched
      else {
        val conj = wholeFileExprs
          .map(ColumnMapping.toPhysicalExpr(_, renames))
          .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
        touched.filterNot(f =>
          FilePruning.mustMatchAll(conj, f, physSchema))
      }
    val dataRoot = storage.absolute(FileLocations.tableDataDir(ns, t))
    val tuples = partial.map(f => (storage.absolute(f.path), f))
    val basePath =
      if (tuples.forall(_._1.startsWith(dataRoot))) Some(dataRoot) else None
    // pending merge-on-read deletes are applied at READ time so a
    // rewrite can never resurrect logically-deleted rows (the rewrite's
    // output files re-sequence; old predicates stop applying to them)
    val pendingDeletes = headSnap.map(_.deletes).getOrElse(Seq.empty)
    val partialPaths = partial.map(_.path).toSet
    val applicablePos = headSnap.map(_.posDeletes)
      .getOrElse(Seq.empty)
      .filter(_.dataFiles.exists(partialPaths))
    val posDeleteAbs = applicablePos.map(p => storage.absolute(p.path))
    val posDeleteBytes = applicablePos.map(_.sizeBytes).sum
    val pendingEq = headSnap.map(_.eqDeletes).getOrElse(Seq.empty)
      .map(p => (storage.absolute(p.path), p))
    // commit as a REPLACE of only the touched files: untouched files
    // (and, past the inline threshold, untouched manifest SEGMENTS)
    // carry over verbatim, and a racing append's files survive rebase.
    // Wholly-dropped files are in `replaced` but were never read.
    val replaced = touched.map(_.path).toSet
    val newFiles =
      if (partial.isEmpty) Seq.empty // metadata-only delete: no job
      else {
        val physDf = MorDeletes.readEntries(spark, physSchema, basePath,
          tuples, pendingDeletes, posDeleteAbs, eqDeletes = pendingEq,
          posDeleteBytes = posDeleteBytes)
        val logicalDf = renames.foldLeft(physDf) {
          case (df, (logical, physical)) =>
            df.withColumnRenamed(physical, logical)
        }
        DataFileWrite.writeFrame(rewrite(logicalDf), storage, ns, t, schema,
          td.properties)
      }
    // a complete-predicate DELETE records its predicate (physical
    // names, like merge-on-read's DeletePredicate) on the snapshot:
    // the change feed then recovers the deleted rows as one filtered
    // scan of the replaced files instead of a two-sided row-set diff
    val deleteSql =
      if (op == "delete" && wholeFileExprs.nonEmpty)
        ColumnMapping.toPhysicalExpr(wholeFileExprs.reduce(
          org.apache.spark.sql.catalyst.expressions.And(_, _)), renames).sql
      else ""
    val edit = graft.format.ReplaceFiles(replaced, newFiles, deleteSql)
    withTable(ident) { (txn, _, _, _) =>
      GraftCatalog.stageTableEdit(storage, txn, ns, t, actionType)(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch))
    }
  }

  /** Commit a ROW-LEVEL operation's file swap: the files the rewrite
    * scanned leave the snapshot, the rewritten files join it, every
    * other file carries over untouched (called from
    * [[GraftCowBatchWrite]] on the driver at write commit).
    */
  private[spark] def commitReplace(ident: Identifier, replacedPaths: Seq[String],
      newFiles: Seq[graft.format.DataFileEntry], op: String,
      actionType: String): Unit = {
    // on a rebase replay the replaced paths leave WHATEVER the winner
    // committed: an append that raced this rewrite keeps its files
    val edit = graft.format.ReplaceFiles(replacedPaths.toSet, newFiles)
    withTable(ident) { (txn, ns, t, branch) =>
      GraftCatalog.stageTableEdit(storage, txn, ns, t, actionType,
        GraftCatalog.filesArgs(newFiles))(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch))
    }
  }

  /** Commit a POSITION DELTA (merge-on-read UPDATE/MERGE): new data
    * files append, position-delete objects join the pending list, no
    * existing file moves. Replay safety comes from the edit itself —
    * [[graft.format.TableMetadata.withSnapshotEdit]] validates every
    * referenced data file still exists on the (possibly rebased) tree,
    * so a racing compaction that rewrote a referenced file fails this
    * commit loudly instead of letting stale positions drift.
    */
  private[spark] def commitRowDelta(ident: Identifier,
      newFiles: Seq[graft.format.DataFileEntry],
      posDeletes: Seq[graft.format.PosDeleteFile], op: String): Unit = {
    val edit = graft.format.AddRowDeltas(newFiles, posDeletes)
    withTable(ident) { (txn, ns, t, branch) =>
      GraftCatalog.stageTableEdit(storage, txn, ns, t, ActionType.TableUpdate,
        GraftCatalog.filesArgs(newFiles) +
          ("deleteFiles" -> posDeletes.map(_.path).mkString(",")))(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch))
    }
  }

  /** Commit a KEY DELTA (equality-delete MERGE): new data files
    * append, the matched keys' equality-delete objects join the
    * pending list — strictly-older rows with those keys are logically
    * replaced, nothing is rewritten (the batch edition of the
    * streaming upsert commit, same [[graft.format.AddUpsert]] edit and
    * strict-sequence scoping).
    *
    * Replay safety: unlike a streaming upsert (where replacing the
    * latest row per key IS the contract), a MERGE's equality deletes
    * must kill only rows its scan observed. A lost root race replays
    * the edit on the winner's tree at a fresh sequence — if the winner
    * (or anyone since the first attempt) committed to THIS table, the
    * replayed deletes would also swallow those unseen matching-key
    * rows, so the replay validates the table head is unchanged and
    * fails loudly for a rerun (the same posture as
    * [[graft.format.RewritePosDeletes]]'s reference validation;
    * Iceberg's MERGE conflict validation makes the same call).
    */
  private[spark] def commitKeyDelta(ident: Identifier,
      newFiles: Seq[graft.format.DataFileEntry],
      eqDeletes: Seq[graft.format.EqDeleteFile], op: String): Unit = {
    val edit = graft.format.AddUpsert(newFiles, eqDeletes)
    withTable(ident) { (txn, ns, t, branch) =>
      val baseSeq = headSeqOf(storage, txn.runningRoot, ns, t, branch)
      GraftCatalog.stageTableEdit(storage, txn, ns, t, ActionType.TableUpdate,
        GraftCatalog.filesArgs(newFiles) +
          ("deleteFiles" -> eqDeletes.map(_.path).mkString(",")),
        guard = { (s, r) =>
          val nowSeq = headSeqOf(s, r, ns, t, branch)
          if (nowSeq != baseSeq) throw new IllegalStateException(
            s"equality-delete MERGE on $ns.$t lost a race with a concurrent " +
              s"commit (base seq $baseSeq, now $nowSeq): the merge scan never " +
              "observed the concurrent rows its deletes would cover — rerun " +
              "the MERGE")
        })(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch))
    }
  }

  /** Streaming micro-batch commit ([[GraftStreamingWrite]]): one epoch
    * as one snapshot — an upsert epoch carries the equality-delete
    * object alongside its data files. Idempotent per (queryId, epoch):
    * the committed epoch id rides the metadata properties, and a
    * replayed epoch (or a rebase replay of one that already won
    * through a racing path) commits nothing.
    */
  private[spark] def commitStreamEpoch(ident: Identifier,
      newFiles: Seq[graft.format.DataFileEntry],
      eqDeletes: Seq[graft.format.EqDeleteFile],
      overwrite: Boolean,
      epochKey: (String, Long)): Unit = {
    val edit =
      if (eqDeletes.nonEmpty) graft.format.AddUpsert(newFiles, eqDeletes)
      else if (overwrite) graft.format.OverwriteFiles(newFiles)
      else graft.format.AppendFiles(newFiles)
    val op = if (eqDeletes.nonEmpty) "upsert"
      else if (overwrite) "overwrite" else "append"
    withTable(ident) { (txn, ns, t, branch) =>
      GraftCatalog.stageTableEdit(storage, txn, ns, t,
        if (eqDeletes.nonEmpty || overwrite) ActionType.TableUpdate
        else ActionType.TableInsert,
        GraftCatalog.filesArgs(newFiles) +
          ("epoch" -> s"${epochKey._1}:${epochKey._2}"))(
        GraftCatalog.applyFilesCommit(_, _, ns, t, op, edit, branch,
          Some(epochKey)))
    }
  }

  /** Head-snapshot commit sequence of a table (or its branch) as seen
    * from `root`; -1 for an empty table. One metadata read — used by
    * replay validations that must detect a concurrent same-table
    * commit.
    */
  private def headSeqOf(s: StorageOps, root: TreeRoot, ns: String,
      t: String, branch: Option[String]): Long = {
    val cd = Graft.catalogDef(s, root)
    val key = ObjectKeys.tableKey(ns, t, cd)
    val defPath = TreeOps.searchValue(s, root, key).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(ns), t)))
    val td = Json.read(s.read(defPath), classOf[TableDef])
    val meta = TableMetadata.read(s, td.metadataLocation)
    meta.headSnapshot(s, branch).map(_.seq).getOrElse(-1L)
  }

  // ---------------- views ----------------

  override def listViews(namespace: String*): Array[Identifier] =
    inTxn(txn => Graft.showViews(storage, txn, ns1(namespace.toArray))
      .map(v => Identifier.of(namespace.toArray, v)).toArray)

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && inTxn(txn =>
      Graft.viewExists(storage, txn, ident.namespace()(0), ident.name()))

  override def loadView(ident: Identifier): View = {
    val d =
      try inTxn(txn =>
        Graft.describeView(storage, txn, ns1(ident.namespace()), ident.name()))
      catch { case _: NoSuchElementException => throw new NoSuchViewException(ident) }
    new GraftView(catalogName, ident, d)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    inTxn(txn => Graft.createView(storage, txn, ViewDef(
      ident.name(), ns1(ident.namespace()),
      sqlText = info.sql(),
      schemaJson = info.schema().json,
      referencedObjectNames = graft.objects.ViewRefs.referencedNames(info.sql()),
      properties = info.properties().asScala.toMap ++ Map(
        "spark.query.columns" -> info.queryColumnNames().mkString(","),
        "spark.view.currentCatalog" -> info.currentCatalog(),
        "spark.view.currentNamespace" -> info.currentNamespace().mkString(".")))))
    loadView(ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    inTxn(txn => Graft.createView(storage, txn, ViewDef(
      ident.name(), ns1(ident.namespace()),
      sqlText = info.sql(),
      schemaJson = info.schema().json,
      referencedObjectNames = graft.objects.ViewRefs.referencedNames(info.sql()),
      properties = info.properties().asScala.toMap ++ Map(
        "spark.query.columns" -> info.queryColumnNames().mkString(","),
        "spark.view.currentCatalog" -> info.currentCatalog(),
        "spark.view.currentNamespace" -> info.currentNamespace().mkString("."))),
      replace = true))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    try inTxn { txn =>
      Graft.dropView(storage, txn, ns1(ident.namespace()), ident.name()); true
    } catch { case _: IllegalArgumentException => false }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val ns = ns1(ident.namespace())
    inTxn { txn =>
      val cur = Graft.describeView(storage, txn, ns, ident.name())
      val props = changes.foldLeft(cur.properties) {
        case (p, set: ViewChange.SetProperty) => p + (set.property() -> set.value())
        case (p, rm: ViewChange.RemoveProperty) => p - rm.property()
        case (p, _) => p
      }
      Graft.createView(storage, txn, cur.copy(properties = props), replace = true)
    }
    loadView(ident)
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().sameElements(newIdent.namespace()),
      "cross-namespace view rename unsupported")
    val ns = ns1(oldIdent.namespace())
    inTxn { txn =>
      val cur = Graft.describeView(storage, txn, ns, oldIdent.name())
      Graft.createView(storage, txn, cur.copy(name = newIdent.name()))
      Graft.dropView(storage, txn, ns, oldIdent.name())
    }
  }
}

/** V2 view over a stored [[ViewDef]]. */
class GraftView(catalogName: String, ident: Identifier, d: ViewDef) extends View {
  override def name(): String = ident.toString
  override def query(): String = d.sqlText
  override def currentCatalog(): String =
    d.properties.getOrElse("spark.view.currentCatalog", catalogName)
  override def currentNamespace(): Array[String] = {
    val ns = d.properties.getOrElse("spark.view.currentNamespace", "")
    if (ns.isEmpty) Array.empty else ns.split('.')
  }
  override def schema(): StructType =
    DataType.fromJson(d.schemaJson).asInstanceOf[StructType]
  override def queryColumnNames(): Array[String] = {
    val cols = d.properties.getOrElse("spark.query.columns", "")
    if (cols.isEmpty) Array.empty else cols.split(',')
  }
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = {
    val comments = schema().fields.map(_.getComment().orNull)
    if (comments.forall(_ == null)) Array.empty else comments
  }
  override def properties(): JMap[String, String] = d.properties.asJava
}

object GraftCatalog {
  /** TableDef property holding comma-separated partition column names. */
  val PartitionColsProp = "graft.partition-columns"

  /** TableDef property holding the FULL partition spec when any field
    * is a derived transform (`bucket(16,k);days(ts)` — see
    * [[PartitionTransforms]]). Identity-only tables keep using
    * [[PartitionColsProp]] alone.
    */
  val PartitionSpecProp = "graft.partition-spec"

  /** The table's partition spec from its properties (either prop). */
  def specOf(props: Map[String, String]): Seq[PartitionField] =
    props.get(PartitionSpecProp).map(PartitionTransforms.parse).getOrElse(
      props.get(PartitionColsProp).map(_.split(',').toSeq
        .map(PartitionField(PartitionTransforms.Identity, _)))
        .getOrElse(Seq.empty))

  /** TableDef property: comma-separated sort columns. Appends declare
    * an ORDERED (range) write distribution on them, and compaction
    * range-clusters on them — files land with disjoint min/max ranges
    * so snapshot-stats pruning eliminates whole files.
    */
  val SortColsProp = "graft.write.sort-by"

  /** TableDef property: comma-separated dotted PHYSICAL paths of every
    * column ever dropped — a later ADD under a dropped name gets a
    * fresh physical name so old file data cannot resurrect.
    */
  val DroppedFieldsProp = "graft.dropped-fields"

  /** Metadata property recording the newest committed streaming epoch
    * for one writeStream query (idempotent micro-batch commits).
    */
  private val StreamEpochPrefix = "graft.streaming.epoch."
  def streamEpochProp(queryId: String): String = StreamEpochPrefix + queryId

  /** Engine state that lives only in the metadata document's
    * properties, never in the def's: the stream-epoch watermarks.
    */
  private def isMetadataOnly(key: String): Boolean =
    key.startsWith(StreamEpochPrefix)

  /** The property mirror: a metadata document's properties are its
    * def's `props` plus the metadata-only keys `meta` carries, so
    * [[registerTable]] can rebuild the def from the document alone.
    */
  private def mirrored(meta: TableMetadata, props: Map[String, String])
      : TableMetadata =
    meta.copy(properties =
      props ++ meta.properties.filter { case (k, _) => isMetadataOnly(k) })

  /** Create table `ns.t` in `txn` from `meta` (its schema, and any
    * snapshot it starts from) with def properties `props`: write the
    * metadata document under the property mirror, then the def.
    */
  private[graft] def createTable(s: StorageOps, txn: Transaction, ns: String,
      t: String, meta: TableMetadata, props: Map[String, String]): Unit = {
    val metaPath = FileLocations.tableMetadataPath(ns, t)
    TableMetadata.write(s, metaPath, mirrored(meta, props))
    Graft.createTable(s, txn,
      TableDef(t, ns, metadataLocation = metaPath, properties = props))
  }

  /** Register the metadata document at `location` (storage-relative,
    * or absolute under the storage root) as table `ns.t` in `txn`: no
    * object is copied, the def points at the document. A graft
    * document's def properties are its properties minus the
    * metadata-only keys (the mirror rule, read backwards); an Iceberg
    * `metadata.json` adopts its current snapshot's live files through
    * [[graft.serve.IcebergStatic.importTable]]. Returns the snapshots
    * now reachable (1 for an Iceberg import).
    */
  private[graft] def registerTable(s: StorageOps, txn: Transaction,
      ns: String, t: String, location: String): Long = {
    val rel =
      if (location.startsWith(s.root)) location.stripPrefix(s.root)
        .stripPrefix("/")
      else location
    require(s.exists(rel), s"no metadata document at $location")
    if (graft.serve.IcebergStatic.isIcebergMetadata(s.read(rel))) {
      graft.serve.IcebergStatic.importTable(s, txn, ns, t, rel)
      return 1L
    }
    // read validates the document before anything is committed
    val meta = TableMetadata.read(s, rel)
    Graft.createTable(s, txn, TableDef(t, ns, metadataLocation = rel,
      properties = meta.properties.filter { case (k, _) => !isMetadataOnly(k) }))
    meta.totalSnapshots
  }

  /** Stage one table edit in `txn`, the way every table commit goes:
    * `apply` runs on the running root now, the same closure (after
    * `guard`) replays on the winner's root when the commit loses a
    * race, and the action is recorded under the table's key. `apply`
    * must re-read what it builds on from the root it is given (as
    * [[editTable]] does), so a replay merges with what the winner
    * committed.
    */
  private[graft] def stageTableEdit(s: StorageOps, txn: Transaction,
      ns: String, t: String, actionType: String,
      args: Map[String, String] = Map.empty,
      guard: (StorageOps, TreeRoot) => Unit = (_, _) => ())(
      apply: (StorageOps, TreeRoot) => Unit): Unit = {
    apply(s, txn.runningRoot)
    txn.replays += { (s2, r) => guard(s2, r); apply(s2, r) }
    txn.record(Action(actionType,
      ObjectKeys.tableKey(ns, t, Graft.catalogDef(s, txn.runningRoot)), args))
  }

  /** Action args of a commit that adds `files`: their paths and value
    * ranges (the serializable check's append refinement).
    */
  private[graft] def filesArgs(files: Seq[graft.format.DataFileEntry])
      : Map[String, String] =
    Map("files" -> files.map(_.path).mkString(",")) ++
      graft.format.StatsRanges.args(files)

  /** Edit table `ns.t` in `root`: read its def from that root, let
    * `f` map its metadata to the new metadata and def properties,
    * write the metadata document under the property mirror and a def
    * pointing at it, and put that def under the table's key. Writes
    * nothing when `f` returns its metadata and the def's properties.
    */
  private[graft] def editTable(s: StorageOps, root: TreeRoot, ns: String,
      t: String)(f: (StorageOps, TableDef, TableMetadata) =>
        (TableMetadata, Map[String, String])): Unit = {
    val cd = Graft.catalogDef(s, root)
    val key = ObjectKeys.tableKey(ns, t, cd)
    val defPath = TreeOps.searchValue(s, root, key).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(ns), t)))
    val td = Json.read(s.read(defPath), classOf[TableDef])
    val meta = TableMetadata.read(s, td.metadataLocation)
    val (meta2, props2) = f(s, td, meta)
    if ((meta2 eq meta) && props2 == td.properties) return
    val metaPath = FileLocations.tableMetadataPath(ns, t)
    TableMetadata.write(s, metaPath, mirrored(meta2, props2))
    val defPath2 = FileLocations.newTableDefPath(ns, t)
    s.writeAtomic(defPath2, Json.write(td.copy(metadataLocation = metaPath,
      previousMetadataLocation = Some(td.metadataLocation),
      properties = props2)))
    TreeOps.setValue(s, root, key, Some(defPath2), cd.order)
  }

  /** Commit one file-level snapshot edit to table `ns.t` in `root` (of
    * its branch, if given), whichever door the commit arrives through:
    * the catalog's writes, maintenance, the REST facade. A streaming
    * `epochKey` at or below the table's recorded watermark already
    * committed and changes nothing.
    */
  private[graft] def applyFilesCommit(s: StorageOps, root: TreeRoot,
      ns: String, t: String, op: String, edit: graft.format.FilesEdit,
      branch: Option[String] = None,
      epochKey: Option[(String, Long)] = None): Unit =
    editTable(s, root, ns, t) { (s, td, meta) =>
      if (epochKey.exists { case (q, e) =>
          meta.properties.get(streamEpochProp(q)).exists(_.toLong >= e) })
        (meta, td.properties)
      else {
        val inlineMax = td.properties.get(graft.format.Manifests.InlineMaxProp)
          .map(_.toInt).getOrElse(graft.format.Manifests.InlineMaxDefault)
        val snapsInlineMax = td.properties
          .get(graft.format.SnapshotLog.InlineMaxProp)
          .map(_.toInt).getOrElse(graft.format.SnapshotLog.InlineMaxDefault)
        val edited = meta.withSnapshotEdit(s, tableManifestDir(ns, t), op,
          edit, inlineMax, snapsInlineMax, branch)
        (epochKey.fold(edited) { case (q, e) =>
          edited.copy(properties =
            edited.properties + (streamEpochProp(q) -> e.toString))
        }, td.properties)
      }
    }

  /** TableDef property: comma-separated LOGICAL key columns for
    * streaming upserts — writeStream to the table commits each epoch
    * as data files + an equality-delete object on these keys
    * ([[GraftStreamingWrite]]). The `upsert-keys` writeStream option
    * overrides per query.
    */
  val UpsertKeysProp = "graft.write.upsert-keys"

  /** TableDef property selecting DELETE strategy: `copy-on-write`
    * (default — rewrite touched files) or `merge-on-read` (commit the
    * predicate; reads apply it until compaction materializes).
    */
  val DeleteModeProp = "graft.delete.mode"
  val DeleteModeMergeOnRead = "merge-on-read"

  /** Same choice for UPDATE / MERGE: `merge-on-read` plans them as
    * POSITION DELTAS ([[GraftPositionDeltaOperation]]) — new rows plus
    * small (file, pos) delete objects, no data-file rewrite.
    */
  val UpdateModeProp = "graft.update.mode"
  val MergeModeProp = "graft.merge.mode"

  /** `graft.merge.mode = 'merge-on-read-eq'`: MERGE commits equality
    * deletes keyed by `graft.write.upsert-keys` instead of position
    * deltas — the batch edition of the streaming upsert shape.
    */
  val MergeModeMergeOnReadEq = "merge-on-read-eq"

  /** `sort_by => 'zorder(a,b)'` marker accepted by compact_table. */
  val ZOrderSortBy = """(?i)zorder\(([^)]*)\)""".r

  /** Identifier infix routing reads AND writes to a branch:
    * `<table>$branch_<name>` loads a table pinned to the branch head
    * whose commits advance the branch ref instead of main.
    */
  val BranchInfix = "$branch_"

  /** `t$branch_x` → (t, Some(x)); plain names pass through. */
  def splitBranch(name: String): (String, Option[String]) = {
    val i = name.indexOf(BranchInfix)
    if (i <= 0) (name, None)
    else (name.take(i), Some(name.drop(i + BranchInfix.length)))
  }

  /** Manifest segments live beside (not under) the data dir, so data
    * file listings and orphan scans never see them.
    */
  def tableManifestDir(ns: String, t: String): String =
    s"data/$ns/$t/manifests"
}
