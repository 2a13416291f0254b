package graft.spark

import java.util.UUID

import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.types.{StructField, StructType}

import graft.txn.ActionType

/** The ONE implementation of table-change application — schema
  * evolution (adds at any depth, metadata-only renames via
  * [[ColumnMapping]], widening type changes, nullability relaxing,
  * defaults, comments, drops with physical-name bookkeeping) and
  * property edits. The Spark catalog's ALTER TABLE and the Iceberg
  * REST facade's schema commits both apply changes through here, so
  * external engines get exactly the native semantics — one rule set,
  * no drift.
  */
private[graft] object TableAlterations {

  /** The action type `changes` record in the transaction log: the
    * last column add or drop decides, any other change is a plain
    * ALTER.
    */
  def actionType(changes: Seq[TableChange]): String =
    changes.collect {
      case _: TableChange.AddColumn => ActionType.AlterTableAddColumns
      case _: TableChange.DeleteColumn => ActionType.AlterTableRemoveColumns
    }.lastOption.getOrElse(ActionType.AlterTable)

  /** Apply `changes` to (schema, props); returns the evolved pair.
    * Throws IllegalArgumentException on invalid changes (unknown
    * columns, narrowing types, renaming partition sources...).
    */
  def apply(schema0: StructType, props0: Map[String, String],
      changes: Seq[TableChange]): (StructType, Map[String, String]) = {
    var schema = schema0
    var props = props0
    changes.foreach {
      case set: TableChange.SetProperty =>
        props = props + (set.property() -> set.value())
      case rm: TableChange.RemoveProperty => props = props - rm.property()
      case add: TableChange.AddColumn =>
        // any depth: old files lack the field at any nesting level →
        // parquet schema clipping fills nulls on read. If a field of
        // the same PHYSICAL name was dropped earlier, old files DO
        // contain it — a fresh physical name prevents the old data
        // from resurrecting under the new logical field.
        val path = add.fieldNames().toSeq
        val physTarget = (SchemaEvolution.physicalPath(schema, path.init)
          :+ path.last).mkString(".")
        val dropped = props.get(GraftCatalog.DroppedFieldsProp)
          .map(_.split(',').toSet).getOrElse(Set.empty[String])
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        if (dropped.contains(physTarget))
          mb.putString(ColumnMapping.PhysKey,
            s"${path.last}_${UUID.randomUUID().toString.take(8)}")
        // DEFAULT <expr>: CURRENT_DEFAULT governs future INSERTs
        // (analyzer-applied), EXISTS_DEFAULT is what pre-existing
        // rows read (parquet readers fill missing fields with it) —
        // the add stays metadata-only
        Option(add.defaultValue()).foreach { d =>
          mb.putString("CURRENT_DEFAULT", d.getSql)
          mb.putString("EXISTS_DEFAULT", d.getSql)
        }
        val newField =
          StructField(path.last, add.dataType(), add.isNullable, mb.build())
        schema = SchemaEvolution.updateAt(schema, path, {
          case None => Some(newField)
          case Some(_) => throw new IllegalArgumentException(
            s"column already exists: ${path.mkString(".")}")
        })
      case del: TableChange.DeleteColumn =>
        val path = del.fieldNames().toSeq
        val physPath = SchemaEvolution.physicalPath(schema, path).mkString(".")
        schema = SchemaEvolution.updateAt(schema, path, {
          case Some(_) => None
          case None => throw new IllegalArgumentException(
            s"no such column: ${path.mkString(".")}")
        })
        val dropped = props.get(GraftCatalog.DroppedFieldsProp)
          .map(_.split(',').toSet).getOrElse(Set.empty[String])
        props = props + (GraftCatalog.DroppedFieldsProp ->
          (dropped + physPath).toSeq.sorted.mkString(","))
      case rn: TableChange.RenameColumn =>
        // metadata-only AT ANY DEPTH: the field keeps its PHYSICAL
        // (on-file) name in field metadata; data files are never
        // rewritten (ColumnMapping)
        val path = rn.fieldNames().toSeq
        val to = rn.newName()
        val parent = SchemaEvolution.parentStruct(schema, path)
        require(!parent.fieldNames.contains(to),
          s"rename target already exists: $to")
        if (path.length == 1) {
          val partSources = GraftCatalog.specOf(props).map(_.col).toSet
          require(!partSources.contains(path.head),
            s"cannot rename partition source column ${path.head} " +
              "(directory layout is the storage)")
        }
        schema = SchemaEvolution.updateAt(schema, path, {
          case Some(f) =>
            Some(f.copy(name = to, metadata = new org.apache.spark.sql.types
              .MetadataBuilder().withMetadata(f.metadata)
              .putString(ColumnMapping.PhysKey, ColumnMapping.physicalName(f))
              .build()))
          case None => throw new IllegalArgumentException(
            s"no such column: ${path.mkString(".")}")
        })
      case ut: TableChange.UpdateColumnType =>
        // widening-only at any depth (parquet readers promote the
        // clipped nested type on read, same as top-level)
        val path = ut.fieldNames().toSeq
        schema = SchemaEvolution.updateAt(schema, path, {
          case Some(f) =>
            require(ColumnMapping.canWiden(f.dataType, ut.newDataType()),
              s"only widening type changes are metadata-safe: " +
                s"${f.dataType.simpleString} → " +
                s"${ut.newDataType().simpleString} is not")
            Some(f.copy(dataType = ut.newDataType()))
          case None => throw new IllegalArgumentException(
            s"no such column: ${path.mkString(".")}")
        })
      case un: TableChange.UpdateColumnNullability =>
        require(un.nullable(),
          "tightening to NOT NULL requires a data scan; only relaxing is supported")
        schema = SchemaEvolution.updateAt(schema, un.fieldNames().toSeq, {
          case Some(f) => Some(f.copy(nullable = true))
          case None => throw new IllegalArgumentException(
            s"no such column: ${un.fieldNames().mkString(".")}")
        })
      case ud: TableChange.UpdateColumnDefaultValue =>
        // changes FUTURE inserts only: EXISTS_DEFAULT stays what it
        // was when the column appeared, so already-written rows keep
        // reading their original default
        schema = SchemaEvolution.updateAt(schema, ud.fieldNames().toSeq, {
          case Some(f) =>
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val sql = Option(ud.newCurrentDefault()).map(_.getSql)
              .getOrElse(ud.newDefaultValue())
            if (sql == null || sql.isEmpty) mb.remove("CURRENT_DEFAULT")
            else mb.putString("CURRENT_DEFAULT", sql)
            Some(f.copy(metadata = mb.build()))
          case None => throw new IllegalArgumentException(
            s"no such column: ${ud.fieldNames().mkString(".")}")
        })
      case uc: TableChange.UpdateColumnComment =>
        schema = SchemaEvolution.updateAt(schema, uc.fieldNames().toSeq, {
          case Some(f) => Some(f.withComment(uc.newComment()))
          case None => throw new IllegalArgumentException(
            s"no such column: ${uc.fieldNames().mkString(".")}")
        })
      case other =>
        throw new UnsupportedOperationException(s"table change $other")
    }
    // keep the served Iceberg field ids STABLE across this evolution:
    // seed from the PRE-change schema (the ids external engines have
    // been seeing), then re-persist for the evolved one — surviving
    // physical paths keep their ids, drops retire, adds allocate
    if (schema != schema0)
      props = IcebergFieldIds.persist(schema, IcebergFieldIds.seed(schema0, props))
    (schema, props)
  }
}
