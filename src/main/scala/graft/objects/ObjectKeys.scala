package graft.objects

/** Tree key encoding (reference: core/.../ObjectKeys.java:57-187,
  * docs/format.md:121-167).
  *
  * Keys are fixed-width, space-padded UTF-8 so lexicographic order ==
  * object-hierarchy order: a 4-char type prefix, then the namespace
  * name right-padded to the catalog's max size, then (for tables and
  * views) the object name padded likewise. Listing a namespace's
  * tables is then a prefix scan.
  */
object ObjectKeys {
  val NamespacePrefix = "B==="
  val TablePrefix = "C==="
  val ViewPrefix = "D==="

  // forbidden in names: they would break fixed-width ordering
  // (docs/format.md:131-135)
  private val Forbidden = Set(' ', '/', '\u0000')

  def validateName(name: String, maxBytes: Int, kind: String): Unit = {
    require(name.nonEmpty, s"$kind name must not be empty")
    require(!name.exists(Forbidden), s"$kind name contains forbidden character: $name")
    require(name.getBytes("UTF-8").length <= maxBytes,
      s"$kind name exceeds $maxBytes bytes: $name")
  }

  private def pad(name: String, maxBytes: Int): String = {
    val bytes = name.getBytes("UTF-8").length
    name + (" " * (maxBytes - bytes))
  }

  def namespaceKey(ns: String, cd: CatalogDef): String = {
    validateName(ns, cd.namespaceNameMaxBytes, "namespace")
    NamespacePrefix + pad(ns, cd.namespaceNameMaxBytes)
  }

  def tableKey(ns: String, table: String, cd: CatalogDef): String = {
    validateName(table, cd.tableNameMaxBytes, "table")
    tableKeyNamespacePrefix(ns, cd) + pad(table, cd.tableNameMaxBytes)
  }

  /** Prefix for listing all tables of a namespace (ObjectKeys.java:146-156). */
  def tableKeyNamespacePrefix(ns: String, cd: CatalogDef): String = {
    validateName(ns, cd.namespaceNameMaxBytes, "namespace")
    TablePrefix + pad(ns, cd.namespaceNameMaxBytes)
  }

  def viewKey(ns: String, view: String, cd: CatalogDef): String = {
    validateName(view, cd.viewNameMaxBytes, "view")
    viewKeyNamespacePrefix(ns, cd) + pad(view, cd.viewNameMaxBytes)
  }

  def viewKeyNamespacePrefix(ns: String, cd: CatalogDef): String = {
    validateName(ns, cd.namespaceNameMaxBytes, "namespace")
    ViewPrefix + pad(ns, cd.namespaceNameMaxBytes)
  }

  def isNamespaceKey(key: String): Boolean = key.startsWith(NamespacePrefix)
  def isTableKey(key: String): Boolean = key.startsWith(TablePrefix)
  def isViewKey(key: String): Boolean = key.startsWith(ViewPrefix)

  def namespaceNameFromKey(key: String): String =
    key.substring(NamespacePrefix.length).trim

  /** (namespace, table) from a table key given the catalog widths. */
  def tableNameFromKey(key: String, cd: CatalogDef): (String, String) = {
    val nsEnd = TablePrefix.length + cd.namespaceNameMaxBytes
    (key.substring(TablePrefix.length, nsEnd).trim, key.substring(nsEnd).trim)
  }

  def viewNameFromKey(key: String, cd: CatalogDef): (String, String) = {
    val nsEnd = ViewPrefix.length + cd.namespaceNameMaxBytes
    (key.substring(ViewPrefix.length, nsEnd).trim, key.substring(nsEnd).trim)
  }
}

/** File layout under the catalog root (reference: FileLocations.java:25-124,
  * docs/format.md:169-217).
  */
object FileLocations {
  val LatestVersionHint = "vn/latest"

  /** Guaranteed-oldest version hint (docs/format.md:213-216 — the
    * reference specs it but never writes it): maintained by
    * catalog-history expiration so time travel below the retention
    * floor fails fast with the floor in the message instead of
    * walking a chain to a missing file.
    */
  val OldestVersionHint = "vn/oldest"

  /** Root node file for a version: 64-bit binary, bit-reversed so hot
    * versions spread lexicographically (FileLocations.java:61-81,
    * docs/format.md:192-194).
    */
  def rootNodePath(version: Long): String = {
    require(version >= 0, s"negative version: $version")
    val reversed = java.lang.Long.reverse(version)
    val bits = (63 to 0 by -1).map(i => (reversed >>> i) & 1L).mkString
    s"vn/$bits"
  }

  def newNodePath(): String = s"node/${java.util.UUID.randomUUID()}.arrow"

  def newCatalogDefPath(): String = s"def/catalog/${java.util.UUID.randomUUID()}.json"

  def newNamespaceDefPath(ns: String): String =
    s"def/ns/${java.util.UUID.randomUUID()}-$ns.json"

  def newTableDefPath(ns: String, table: String): String =
    s"def/table/${java.util.UUID.randomUUID()}-$ns-$table.json"

  def newViewDefPath(ns: String, view: String): String =
    s"def/view/${java.util.UUID.randomUUID()}-$ns-$view.json"

  /** Overwritten in place — acknowledged reference TODO
    * (ObjectDefinitions.java:176-179).
    */
  def distTransactionDefPath(txnId: String): String = s"def/dtxn/$txnId.json"

  /** True for keys whose bytes never change once created: tree nodes,
    * catalog/namespace/table/view definitions (fresh UUID names) and
    * the 64-bit version roots (atomic create-once, never reused). A
    * read cache may serve these without revalidating; the hints
    * (`vn/latest`, `vn/oldest`), distributed-transaction state
    * (`def/dtxn/`, `def/dtxnroot/`) and everything under `data/` are
    * overwritten in place and are NOT write-once.
    */
  def isWriteOnce(rel: String): Boolean =
    WriteOncePrefixes.exists(rel.startsWith) || isRootNodePath(rel)

  private val WriteOncePrefixes =
    Seq("node/", "def/catalog/", "def/ns/", "def/table/", "def/view/")

  /** True for a [[rootNodePath]] (`vn/` + 64 binary digits). */
  def isRootNodePath(rel: String): Boolean =
    rel.length == 3 + 64 && rel.startsWith("vn/") &&
      rel.iterator.drop(3).forall(c => c == '0' || c == '1')

  def tableMetadataPath(ns: String, table: String): String =
    s"data/$ns/$table/meta/${java.util.UUID.randomUUID()}.metadata.json"

  def tableDataDir(ns: String, table: String): String = s"data/$ns/$table/files"
}
