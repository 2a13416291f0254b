package graft.catalog

import java.util.UUID

import graft.objects._
import graft.storage.{AtomicSealFailureException, StorageOps}
import graft.tree.{TreeOps, TreeRoot}
import graft.txn._

/** The catalog-operation facade (reference core/.../Olympia.java, 667
  * LoC): every operation runs against `txn.runningRoot` and appends an
  * [[Action]] for conflict analysis. Commit is optimistic: serialize
  * the tree, atomically create the next root version, and on losing
  * the race analyze conflicts against the winners' persisted action
  * logs, rebase or abort (Olympia.java:86-128).
  */
object Graft {

  // ---------- catalog ----------

  def catalogExists(storage: StorageOps): Boolean =
    storage.exists(FileLocations.rootNodePath(0L)) ||
      // v0 may have been expired by catalog-history expiration
      TreeOps.findLatestRoot(storage).exists(r => { r.close(); true })

  /** Write CatalogDef + empty root v0 (Olympia.java:53-63). */
  def createCatalog(storage: StorageOps, cd: CatalogDef): Unit = {
    val defPath = FileLocations.newCatalogDefPath()
    // new catalogs stamp the CURRENT layout version (a caller-built
    // CatalogDef() carries the untagged sentinel)
    val stamped =
      if (cd.formatVersion == 0) cd.copy(formatVersion = CatalogDef.FormatVersion)
      else cd
    storage.writeAtomic(defPath, Json.write(stamped))
    TreeOps.createEmptyRoot(storage, defPath)
  }

  /** The root's catalog definition, read and parsed once per
    * [[TreeRoot]] (memoized on it; the def file is write-once).
    */
  def catalogDef(storage: StorageOps, root: TreeRoot): CatalogDef =
    root.catalogDefMemo.getOrElse {
      val cd = Json.read(storage.read(root.catalogDefPath), classOf[CatalogDef])
      // pre-tag (round-1) files carry no formatVersion → layout 1;
      // anything beyond what this reader implements must be refused,
      // not misread (docs/FORMAT_COMPAT.md)
      val v = if (cd.formatVersion == 0) 1 else cd.formatVersion
      require(v <= CatalogDef.FormatVersion,
        s"catalog format version $v is newer than supported ${CatalogDef.FormatVersion}")
      val parsed = cd.copy(formatVersion = v)
      root.catalogDefMemo = Some(parsed)
      parsed
    }

  /** Commit a catalog-definition change (e.g. recording a named
    * snapshot export) as a new root version whose `catalog_def`
    * pointer names a fresh def file — the tree itself is untouched, so
    * the commit carries no actions and concurrent transactions rebase
    * over it without conflict. Optimistic: retried on a lost root
    * race.
    */
  def updateCatalogDef(storage: StorageOps, f: CatalogDef => CatalogDef,
      maxRetries: Int = 10): CatalogDef = {
    var attempt = 0
    while (true) {
      val latest = TreeOps.findLatestRoot(storage).getOrElse(
        throw new IllegalStateException("catalog does not exist"))
      try {
        val cd = catalogDef(storage, latest)
        val cd2 = f(cd)
        if (cd2 == cd) return cd
        val defPath = FileLocations.newCatalogDefPath()
        storage.writeAtomic(defPath, Json.write(cd2))
        // the new version's tree is latest's, unchanged
        val root = new TreeRoot(latest.node, latest.version,
          latest.path, None, defPath, System.currentTimeMillis(), "[]")
        try {
          TreeOps.writeRoot(storage, root, latest.version + 1)
          return cd2
        } catch {
          case _: AtomicSealFailureException =>
            attempt += 1
            if (attempt > maxRetries)
              throw new CommitFailedException("catalog-def update: too many retries")
        }
      } finally latest.close()
    }
    throw new IllegalStateException("unreachable")
  }

  // ---------- transactions ----------

  /** Snapshot the latest root (Olympia.java:65-84). The snapshot and
    * running roots are two trees over the same decoded root file, and
    * share its parsed catalog def.
    */
  def beginTransaction(storage: StorageOps,
      isolationOverride: Option[String] = None): Transaction = {
    val latest = TreeOps.findLatestRoot(storage)
      .getOrElse(throw new IllegalStateException("catalog does not exist"))
    val cd = catalogDef(storage, latest)
    val running = TreeOps.forkRoot(latest)
    val now = System.currentTimeMillis()
    new Transaction(
      UUID.randomUUID().toString,
      isolationOverride.getOrElse(cd.txnIsolationLevel),
      latest, running, now, now + cd.txnTtlMillis)
  }

  /** Optimistic commit loop (Olympia.java:86-128): write the root at
    * v+1 atomically; on losing, collect the winners' action logs,
    * analyze conflicts, rebase onto the winner by replaying this txn's
    * effects, retry.
    */
  def commitTransaction(storage: StorageOps, txn: Transaction,
      maxRetries: Int = 10): TreeRoot = {
    txn.requireOpen()
    if (txn.isReadOnly) {
      // a read-only txn publishes nothing, but under SERIALIZABLE its
      // READ SET must still validate against everything committed
      // since the snapshot — otherwise a stale read "commits" as if it
      // had run before writers it actually ran after
      if (txn.isolationLevel == IsolationLevel.Serializable) {
        val latest = TreeOps.findLatestRoot(storage).get
        try {
          if (latest.version > txn.beginningRoot.version) {
            val committedActions = TreeOps
              .collectRootsWhile(storage, latest)(
                _.version > txn.beginningRoot.version)(
                r => Actions.fromJson(r.actionsJson))
              .flatten
            ConflictAnalyzer.analyze(txn.actions.toSeq, committedActions,
              txn.isolationLevel) match {
              case Left(reason) =>
                throw new CommitFailedException(s"txn ${txn.id}: $reason")
              case Right(_) => ()
            }
          }
        } finally latest.close()
      }
      txn.committed = true
      return txn.beginningRoot
    }
    // A resumed (distributed) transaction lost its replay closures at
    // suspend time; reconstruct them from the tree diff so a lost
    // commit race can still rebase instead of silently dropping work.
    val replays: Seq[(StorageOps, graft.tree.TreeRoot) => Unit] =
      if (txn.replays.nonEmpty) txn.replays.toSeq
      else diffReplays(storage, txn)
    var base = txn.beginningRoot
    var root = txn.runningRoot
    var attempt = 0
    while (true) {
      root.previousRootPath = base.path
      root.actionsJson = Actions.toJson(txn.actions.toSeq)
      try {
        TreeOps.writeRoot(storage, root, base.version + 1)
        txn.committed = true
        txn.runningRoot = root
        return root
      } catch {
        case _: AtomicSealFailureException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new CommitFailedException(s"txn ${txn.id}: too many commit retries")
          val winner = TreeOps.findLatestRoot(storage).get
          // actions committed since our snapshot (persisted in each root)
          val committedActions = TreeOps
            .collectRootsWhile(storage, winner)(_.version > base.version)(
              r => Actions.fromJson(r.actionsJson))
            .flatten
          ConflictAnalyzer.analyze(txn.actions.toSeq, committedActions,
            txn.isolationLevel) match {
            case Left(reason) =>
              throw new CommitFailedException(s"txn ${txn.id}: $reason")
            case Right(_) =>
              // rebase: rebuild the running tree on the winner and
              // replay this txn's effects in order; drop the
              // superseded running tree
              val superseded = root
              base = winner
              root = TreeOps.forkRoot(winner)
              replays.foreach(r => r(storage, root))
              txn.runningRoot = root
              if ((superseded ne txn.beginningRoot) && (superseded ne root))
                superseded.close()
              winner.close() // actions already extracted
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Key-level effects of a transaction, recovered by diffing its
    * beginning and running trees (adds/updates/deletes). Values are
    * def-file paths, so equal-key different-value means "updated".
    */
  private def diffReplays(storage: StorageOps, txn: Transaction)
      : Seq[(StorageOps, TreeRoot) => Unit] = {
    val before = TreeOps.traverse(storage, txn.beginningRoot)
      .map(r => r.key -> r.value).toMap
    val after = TreeOps.traverse(storage, txn.runningRoot)
      .map(r => r.key -> r.value).toMap
    val puts = after.collect {
      case (k, Some(v)) if before.get(k).flatten != Some(v) =>
        (s: StorageOps, r: TreeRoot) =>
          TreeOps.setValue(s, r, k, Some(v), catalogDef(s, r).order)
    }.toSeq
    val dels = (before.keySet -- after.keySet).toSeq.map { k =>
      (s: StorageOps, r: TreeRoot) =>
        TreeOps.setValue(s, r, k, None, catalogDef(s, r).order)
    }
    puts ++ dels
  }

  // ---------- distributed transactions (Olympia.java:130-169) ----------

  /** Suspend: persist the running tree to an unpublished root file plus
    * a resumable DistTransactionDef — another process/engine can load
    * and commit it (write-audit-publish, docs/index.md:54-64).
    */
  def saveDistTransaction(storage: StorageOps, txn: Transaction): Unit = {
    txn.requireOpen()
    txn.runningRoot.actionsJson = Actions.toJson(txn.actions.toSeq)
    val rootPath = s"def/dtxnroot/${txn.id}.arrow"
    TreeOps.writeRootAt(storage, txn.runningRoot, rootPath)
    val dtxn = DistTransactionDef(
      txn.id, txn.isolationLevel,
      txn.beginningRoot.path.get, rootPath,
      txn.beganAtMillis, txn.expireAtMillis)
    storage.overwrite(FileLocations.distTransactionDefPath(txn.id), Json.write(dtxn))
  }

  def distTransactionExists(storage: StorageOps, txnId: String): Boolean =
    storage.exists(FileLocations.distTransactionDefPath(txnId))

  def loadDistTransaction(storage: StorageOps, txnId: String): Transaction = {
    val dtxn = Json.read(
      storage.read(FileLocations.distTransactionDefPath(txnId)),
      classOf[DistTransactionDef])
    val beginning = TreeOps.loadRoot(storage, dtxn.beginningRootPath)
    val running = TreeOps.loadRoot(storage, dtxn.runningRootPath)
    val txn = new Transaction(dtxn.txnId, dtxn.isolationLevel, beginning, running,
      dtxn.beganAtMillis, dtxn.expireAtMillis)
    txn.actions ++= Actions.fromJson(running.actionsJson)
    txn
  }

  // ---------- rollback / time travel ----------

  /** Roll the catalog back to `version` with the roll-forward
    * technique (docs/format.md:284-326): the next version's content is
    * the old root's, with `rollback_from_root` recording provenance.
    */
  def rollbackTo(storage: StorageOps, version: Long): TreeRoot = {
    val latest = TreeOps.findLatestRoot(storage)
      .getOrElse(throw new IllegalStateException("catalog does not exist"))
    try {
      val target = TreeOps.findRootForVersion(storage, latest, version)
      val replay = TreeOps.forkRoot(target)
      if (target ne latest) target.close()
      replay.rollbackFromRootPath = latest.path
      replay.previousRootPath = latest.path
      replay.actionsJson = "[]"
      TreeOps.writeRoot(storage, replay, latest.version + 1)
      replay
    } finally latest.close()
  }

  // ---------- helpers ----------

  private def cdOf(storage: StorageOps, txn: Transaction): CatalogDef =
    catalogDef(storage, txn.runningRoot)

  private def putKey(storage: StorageOps, txn: Transaction, key: String,
      value: String, order: Int): Unit = {
    TreeOps.setValue(storage, txn.runningRoot, key, Some(value), order)
    txn.replays += ((s, r) => TreeOps.setValue(s, r, key, Some(value),
      catalogDef(s, r).order))
  }

  private def deleteKey(storage: StorageOps, txn: Transaction, key: String,
      order: Int): Unit = {
    TreeOps.setValue(storage, txn.runningRoot, key, None, order)
    txn.replays += ((s, r) => TreeOps.setValue(s, r, key, None,
      catalogDef(s, r).order))
  }

  // ---------- namespaces (Olympia.java:171-339) ----------

  def showNamespaces(storage: StorageOps, txn: Transaction): Seq[String] = {
    txn.record(Action(ActionType.ShowNamespaces, ObjectKeys.NamespacePrefix))
    TreeOps.traverse(storage, txn.runningRoot)
      .filter(r => ObjectKeys.isNamespaceKey(r.key))
      .map(r => ObjectKeys.namespaceNameFromKey(r.key))
      .toSeq
  }

  /** One key-interval page of live keys under `prefix`, strictly after
    * `afterKey`, at most `limit` — O(tree depth + limit) node reads via
    * [[TreeOps.traverseFrom]], never a full walk. Returns (keys, more).
    */
  private def pageKeys(storage: StorageOps, txn: Transaction, prefix: String,
      afterKey: Option[String], limit: Int): (Seq[String], Boolean) = {
    require(limit > 0 && limit < Int.MaxValue,
      s"page size out of range: $limit")
    // every key carrying the prefix sorts strictly after the bare
    // prefix itself, so the unanchored first page starts there
    val page = TreeOps.traverseFrom(storage, txn.runningRoot,
        afterKey.getOrElse(prefix))
      .map(_.key).takeWhile(_.startsWith(prefix))
      .take(limit + 1).toVector
    (page.take(limit), page.size > limit)
  }

  /** Paged SHOW NAMESPACES: names strictly after `after`. */
  def showNamespacesPage(storage: StorageOps, txn: Transaction,
      after: Option[String], limit: Int): (Seq[String], Boolean) = {
    txn.record(Action(ActionType.ShowNamespaces, ObjectKeys.NamespacePrefix))
    val cd = cdOf(storage, txn)
    val (keys, more) = pageKeys(storage, txn, ObjectKeys.NamespacePrefix,
      after.map(n => ObjectKeys.namespaceKey(n, cd)), limit)
    (keys.map(ObjectKeys.namespaceNameFromKey), more)
  }

  /** Paged SHOW TABLES: names strictly after `after`. */
  def showTablesPage(storage: StorageOps, txn: Transaction, ns: String,
      after: Option[String], limit: Int): (Seq[String], Boolean) = {
    val cd = cdOf(storage, txn)
    val prefix = ObjectKeys.tableKeyNamespacePrefix(ns, cd)
    txn.record(Action(ActionType.ShowTables, prefix))
    val (keys, more) = pageKeys(storage, txn, prefix,
      after.map(t => ObjectKeys.tableKey(ns, t, cd)), limit)
    (keys.map(k => ObjectKeys.tableNameFromKey(k, cd)._2), more)
  }

  /** Paged SHOW VIEWS: names strictly after `after`. */
  def showViewsPage(storage: StorageOps, txn: Transaction, ns: String,
      after: Option[String], limit: Int): (Seq[String], Boolean) = {
    val cd = cdOf(storage, txn)
    val prefix = ObjectKeys.viewKeyNamespacePrefix(ns, cd)
    txn.record(Action(ActionType.ShowViews, prefix))
    val (keys, more) = pageKeys(storage, txn, prefix,
      after.map(v => ObjectKeys.viewKey(ns, v, cd)), limit)
    (keys.map(k => ObjectKeys.viewNameFromKey(k, cd)._2), more)
  }

  def namespaceExists(storage: StorageOps, txn: Transaction, ns: String): Boolean = {
    val key = ObjectKeys.namespaceKey(ns, cdOf(storage, txn))
    txn.record(Action(ActionType.NamespaceExists, key))
    TreeOps.searchValue(storage, txn.runningRoot, key).isDefined
  }

  def describeNamespace(storage: StorageOps, txn: Transaction, ns: String): NamespaceDef = {
    val key = ObjectKeys.namespaceKey(ns, cdOf(storage, txn))
    txn.record(Action(ActionType.DescribeNamespace, key))
    val defPath = TreeOps.searchValue(storage, txn.runningRoot, key)
      .getOrElse(throw new NoSuchElementException(s"namespace not found: $ns"))
    Json.read(storage.read(defPath), classOf[NamespaceDef])
  }

  def createNamespace(storage: StorageOps, txn: Transaction, d: NamespaceDef): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.namespaceKey(d.name, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isEmpty,
      s"namespace already exists: ${d.name}")
    val defPath = FileLocations.newNamespaceDefPath(d.name)
    storage.writeAtomic(defPath, Json.write(d))
    putKey(storage, txn, key, defPath, cd.order)
    txn.record(Action(ActionType.CreateNamespace, key))
  }

  def alterNamespace(storage: StorageOps, txn: Transaction, d: NamespaceDef,
      actionType: String = ActionType.AlterNamespace): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.namespaceKey(d.name, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isDefined,
      s"namespace not found: ${d.name}")
    val defPath = FileLocations.newNamespaceDefPath(d.name)
    storage.writeAtomic(defPath, Json.write(d))
    putKey(storage, txn, key, defPath, cd.order)
    txn.record(Action(actionType, key))
  }

  /** CASCADE also drops member views — the reference forgets them
    * (Olympia.java:311-327, SURVEY §4.3.4).
    */
  def dropNamespace(storage: StorageOps, txn: Transaction, ns: String,
      cascade: Boolean): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.namespaceKey(ns, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isDefined,
      s"namespace not found: $ns")
    val tables = showTables(storage, txn, ns)
    val views = showViews(storage, txn, ns)
    if (!cascade) {
      require(tables.isEmpty && views.isEmpty,
        s"namespace $ns is not empty (RESTRICT): tables=$tables views=$views")
    } else {
      tables.foreach(t => dropTable(storage, txn, ns, t))
      views.foreach(v => dropView(storage, txn, ns, v))
    }
    deleteKey(storage, txn, key, cd.order)
    txn.record(Action(ActionType.DropNamespace, key))
  }

  // ---------- tables (Olympia.java:341-514) ----------

  def showTables(storage: StorageOps, txn: Transaction, ns: String): Seq[String] = {
    val cd = cdOf(storage, txn)
    val prefix = ObjectKeys.tableKeyNamespacePrefix(ns, cd)
    txn.record(Action(ActionType.ShowTables, prefix))
    TreeOps.traverse(storage, txn.runningRoot)
      .filter(r => r.key.startsWith(prefix))
      .map(r => ObjectKeys.tableNameFromKey(r.key, cd)._2)
      .toSeq
  }

  def tableExists(storage: StorageOps, txn: Transaction, ns: String,
      table: String): Boolean = {
    val key = ObjectKeys.tableKey(ns, table, cdOf(storage, txn))
    txn.record(Action(ActionType.TableExists, key))
    TreeOps.searchValue(storage, txn.runningRoot, key).isDefined
  }

  def describeTable(storage: StorageOps, txn: Transaction, ns: String,
      table: String): TableDef = {
    val key = ObjectKeys.tableKey(ns, table, cdOf(storage, txn))
    txn.record(Action(ActionType.DescribeTable, key))
    val defPath = TreeOps.searchValue(storage, txn.runningRoot, key)
      .getOrElse(throw new NoSuchElementException(s"table not found: $ns.$table"))
    Json.read(storage.read(defPath), classOf[TableDef])
  }

  def createTable(storage: StorageOps, txn: Transaction, d: TableDef): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val nsKey = ObjectKeys.namespaceKey(d.namespaceName, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, nsKey).isDefined,
      s"namespace not found: ${d.namespaceName}")
    val key = ObjectKeys.tableKey(d.namespaceName, d.name, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isEmpty,
      s"table already exists: ${d.namespaceName}.${d.name}")
    val defPath = FileLocations.newTableDefPath(d.namespaceName, d.name)
    storage.writeAtomic(defPath, Json.write(d))
    putKey(storage, txn, key, defPath, cd.order)
    txn.record(Action(ActionType.CreateTable, key))
  }

  def alterTable(storage: StorageOps, txn: Transaction, d: TableDef,
      actionType: String = ActionType.AlterTable): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.tableKey(d.namespaceName, d.name, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isDefined,
      s"table not found: ${d.namespaceName}.${d.name}")
    val defPath = FileLocations.newTableDefPath(d.namespaceName, d.name)
    storage.writeAtomic(defPath, Json.write(d))
    putKey(storage, txn, key, defPath, cd.order)
    txn.record(Action(actionType, key))
  }

  def dropTable(storage: StorageOps, txn: Transaction, ns: String,
      table: String): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.tableKey(ns, table, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isDefined,
      s"table not found: $ns.$table")
    deleteKey(storage, txn, key, cd.order)
    txn.record(Action(ActionType.DropTable, key))
  }

  /** Rename via delete+insert in one txn — left unimplemented in the
    * reference (OlympiaIcebergCatalog.java:539-541).
    */
  def renameTable(storage: StorageOps, txn: Transaction, ns: String,
      from: String, to: String): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val fromKey = ObjectKeys.tableKey(ns, from, cd)
    val defPath = TreeOps.searchValue(storage, txn.runningRoot, fromKey)
      .getOrElse(throw new NoSuchElementException(s"table not found: $ns.$from"))
    val d = Json.read(storage.read(defPath), classOf[TableDef]).copy(name = to)
    val toKey = ObjectKeys.tableKey(ns, to, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, toKey).isEmpty,
      s"table already exists: $ns.$to")
    val newDefPath = FileLocations.newTableDefPath(ns, to)
    storage.writeAtomic(newDefPath, Json.write(d))
    deleteKey(storage, txn, fromKey, cd.order)
    putKey(storage, txn, toKey, newDefPath, cd.order)
    txn.record(Action(ActionType.DropTable, fromKey))
    txn.record(Action(ActionType.CreateTable, toKey))
  }

  // ---------- views (Olympia.java:516-666) ----------

  def showViews(storage: StorageOps, txn: Transaction, ns: String): Seq[String] = {
    val cd = cdOf(storage, txn)
    val prefix = ObjectKeys.viewKeyNamespacePrefix(ns, cd)
    txn.record(Action(ActionType.ShowViews, prefix))
    TreeOps.traverse(storage, txn.runningRoot)
      .filter(r => r.key.startsWith(prefix))
      .map(r => ObjectKeys.viewNameFromKey(r.key, cd)._2)
      .toSeq
  }

  def viewExists(storage: StorageOps, txn: Transaction, ns: String,
      view: String): Boolean = {
    val key = ObjectKeys.viewKey(ns, view, cdOf(storage, txn))
    txn.record(Action(ActionType.ViewExists, key))
    TreeOps.searchValue(storage, txn.runningRoot, key).isDefined
  }

  def describeView(storage: StorageOps, txn: Transaction, ns: String,
      view: String): ViewDef = {
    val key = ObjectKeys.viewKey(ns, view, cdOf(storage, txn))
    txn.record(Action(ActionType.DescribeView, key))
    val defPath = TreeOps.searchValue(storage, txn.runningRoot, key)
      .getOrElse(throw new NoSuchElementException(s"view not found: $ns.$view"))
    Json.read(storage.read(defPath), classOf[ViewDef])
  }

  def createView(storage: StorageOps, txn: Transaction, d: ViewDef,
      replace: Boolean = false): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val nsKey = ObjectKeys.namespaceKey(d.namespaceName, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, nsKey).isDefined,
      s"namespace not found: ${d.namespaceName}")
    val key = ObjectKeys.viewKey(d.namespaceName, d.name, cd)
    val exists = TreeOps.searchValue(storage, txn.runningRoot, key).isDefined
    require(replace || !exists, s"view already exists: ${d.namespaceName}.${d.name}")
    val defPath = FileLocations.newViewDefPath(d.namespaceName, d.name)
    storage.writeAtomic(defPath, Json.write(d))
    putKey(storage, txn, key, defPath, cd.order)
    txn.record(Action(
      if (exists) ActionType.ReplaceView else ActionType.CreateView, key))
    // the view definition READS the objects it references: record a
    // metadata read per referenced table that exists in this catalog,
    // so under SERIALIZABLE creating a view over a table conflicts with
    // a concurrent drop/replace of that table (the reference keeps the
    // list for exactly this invalidation — objects.proto:71-85)
    ViewRefs.localTableCoordinates(d.referencedObjectNames,
        d.namespaceName, d.properties.get("spark.view.currentCatalog"))
      .foreach { case (rNs, rT) =>
        val tKey = ObjectKeys.tableKey(rNs, rT, cd)
        if (TreeOps.searchValue(storage, txn.runningRoot, tKey).isDefined)
          txn.record(Action(ActionType.DescribeTable, tKey))
      }
  }

  def dropView(storage: StorageOps, txn: Transaction, ns: String, view: String): Unit = {
    txn.requireOpen()
    val cd = cdOf(storage, txn)
    val key = ObjectKeys.viewKey(ns, view, cd)
    require(TreeOps.searchValue(storage, txn.runningRoot, key).isDefined,
      s"view not found: $ns.$view")
    deleteKey(storage, txn, key, cd.order)
    txn.record(Action(ActionType.DropView, key))
  }
}
