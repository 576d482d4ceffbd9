package graft.schema

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types._

/** One declared field of a table — the reference's `Hive_Field`
  * option set (`classes/hive/field.php:14-63`). `column` is the
  * physical name when it differs from the logical one
  * (`meta.php:150-177`). `onChange` is the cell-write transform hook
  * (`field.php:44-46`), expressed as a Column→Column so it stays in
  * codegen. */
final case class Field(
    name: String,
    ftype: FieldType,
    primary: Boolean = false,
    unique: Boolean = false,
    nullable: Boolean = true,
    default: Option[Any] = None,
    column: Option[String] = None,
    autoNowCreate: Boolean = false,
    autoNowUpdate: Boolean = false,
    rules: Seq[Rule] = Nil,
    /** context-specific rules (`meta.php:43-61`: the reference keys
      * callbacks/filters by create/update context) */
    createRules: Seq[Rule] = Nil,
    updateRules: Seq[Rule] = Nil,
    onChange: Option[Column => Column] = None,
    /** storage→logical transform applied at scan time, for physical
      * encodings Spark can't map natively (e.g. the events table's
      * event-time column). Receives the column AND the physical
      * DataType the file actually loaded as, so the transform can
      * adapt to whatever encoding the parquet writer chose (int64
      * nanos vs TIMESTAMP(MICROS) — the fixture has shipped both). */
    readExpr: Option[(Column, DataType) => Column] = None
) {
  def physical: String = column.getOrElse(name)
  def isAuto: Boolean = ftype == FAuto

  /** Rules active for a validation context (`model.php:940-1026`):
    * the shared set plus the context-specific set. */
  def rulesFor(context: Option[String]): Seq[Rule] = context match {
    case Some("create") => rules ++ createRules
    case Some("update") => rules ++ updateRules
    case _ => rules
  }
}

/** Declarative validation rules (`README.md:42-52`, applied at
  * `model.php:940-1026`). Each rule is a boolean Column predicate;
  * the engine composes them per-row (see graft.operators.Validate). */
sealed trait Rule {
  def name: String
  /** TRUE when the value passes. */
  def ok(c: Column): Column
}
case object NotEmpty extends Rule {
  val name = "not_empty"
  def ok(c: Column): Column = c.isNotNull && F.trim(c.cast(StringType)) =!= ""
}
final case class MinLength(n: Int) extends Rule {
  val name = s"min_length[$n]"
  def ok(c: Column): Column = F.length(c.cast(StringType)) >= n
}
final case class MaxLength(n: Int) extends Rule {
  val name = s"max_length[$n]"
  def ok(c: Column): Column = F.length(c.cast(StringType)) <= n
}
case object EmailRule extends Rule {
  val name = "email"
  // conservative RFC-ish subset, portable to the DuckDB oracle
  def ok(c: Column): Column =
    c.cast(StringType).rlike("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")
}
final case class InSet(values: Seq[String]) extends Rule {
  val name = "in_set"
  def ok(c: Column): Column = c.isin(values: _*)
}
final case class InRange(lo: Double, hi: Double) extends Rule {
  val name = "range"
  def ok(c: Column): Column = c >= lo && c <= hi
}

/** Declared relation — the reference's relation algebra
  * (`classes/hive/relation/<type>.php`). `using` maps local→remote join
  * keys (`relation.php:23-26`); `conditions` are constant equality
  * filters on the remote side (`relation.php:29-31`). */
sealed trait Relation {
  def model: String
  def using: Seq[(String, String)]
  def conditions: Map[String, Any]
}
/** 1:1, FK on the local side (`relation/belongsto.php:13-36`). */
final case class BelongsTo(model: String, using: Seq[(String, String)],
    conditions: Map[String, Any] = Map.empty) extends Relation
/** 1:1, FK on the remote side (`relation/hasone.php:13-36`). */
final case class HasOne(model: String, using: Seq[(String, String)],
    conditions: Map[String, Any] = Map.empty) extends Relation
/** 1:N equi-join (`relation/hasmany.php:15-57`). */
final case class HasMany(model: String, using: Seq[(String, String)],
    conditions: Map[String, Any] = Map.empty) extends Relation
/** N:M through a pivot table (`relation/manytomany.php:20-96`):
  * local.pk = pivot.localKey AND pivot.remoteKey = remote.pk. */
final case class ManyToMany(model: String, through: String,
    localKey: (String, String), remoteKey: (String, String),
    conditions: Map[String, Any] = Map.empty) extends Relation {
  def using: Seq[(String, String)] = Seq(localKey)
}

/** Sort direction of the declared per-table ordering
  * (`meta.php:33-36`, applied `model.php:1158-1161`). */
sealed trait SortDir
case object Asc extends SortDir
case object Desc extends SortDir

/** The Spark-side `Hive_Meta` (`classes/hive/meta.php:11-61`): table
  * name, typed fields, declared sort, relations, validation context.
  * Finalization defaults (`meta.php:70-86`) are handled by Field
  * defaults. */
final case class TableDef(
    name: String,
    fields: Seq[Field],
    sorting: Seq[(String, SortDir)] = Nil,
    relations: Map[String, Relation] = Map.empty,
    /** computed columns: logical name → expression over the scanned
      * frame (`model.php:199-206`, README.md:161-170) */
    aliases: Map[String, Column => Column] = Map.empty,
    /** physical table name when it differs from the model name — the
      * table-level twin of `Field.column` (`meta.php:150-177`: the
      * reference maps `$meta->table` independently of the model id).
      * Lets several models project different field views of one
      * stored table. */
    storage: Option[String] = None,
    /** declared fixed-cardinality dimension: the schema GUARANTEES
      * this table stays broadcast-small at any fact scale (region,
      * nation). SQL joins against it get a broadcast hint stamped by
      * [[graft.plans.BroadcastFixedDims]]. */
    broadcastDim: Boolean = false
) {
  /** Name of the stored table backing this model. */
  def storageName: String = storage.getOrElse(name)

  def field(n: String): Field =
    fields.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"undeclared field '$n' on table '$name'")) // model.php:219-225

  def primaryKeys: Seq[Field] = fields.filter(_.primary)

  def structType: StructType =
    StructType(fields.map(f => StructField(f.name, f.ftype.sparkType, f.nullable)))

  /** ORDER BY columns from the declared sorting. */
  def sortColumns: Seq[Column] = sorting.map {
    case (c, Asc)  => F.col(c).asc
    case (c, Desc) => F.col(c).desc
  }
}
