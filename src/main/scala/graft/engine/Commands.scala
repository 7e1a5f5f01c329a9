package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** DML/DDL execution (SURVEY.md §2.9). The reference rides every write
  * through the SELECT scan then mutates record-by-record
  * (`OCommandExecutorSQLUpdate.java:116-124`); here each command is one
  * declarative DataFrame rewrite of the class's data — the same shape a
  * Delta `MERGE INTO`/`UPDATE`/`DELETE` takes on a real deployment,
  * where `Catalog.replaceData` would be a transactional table commit
  * instead of a provider swap.
  *
  * Every command returns a 1-row DataFrame `{count: long}` mirroring
  * the reference's returned record count.
  */
object Commands {
  import Ast._

  def execute(session: GraftSession, stmt: Stmt): DataFrame = {
    val spark = session.spark
    val cat = session.catalog
    stmt match {
      case s: InsertStmt => insert(session, s)
      case s: UpdateStmt => update(session, s)
      case s: DeleteStmt => delete(session, s)
      case CreateClassStmt(name, sup) =>
        cat.createClass(name, sup); one(spark, 1)
      case RemoveClassStmt(name) =>
        cat.get(name) // unknown class → error, not a silent no-op
        cat.drop(name); one(spark, 1)
      case CreatePropertyStmt(cls, field, tpe, linked) =>
        val df = cat.table(cls).drop("_rid", "_class")
        val target = oTypeToSpark(tpe)
        // values previously stored for this field in the `_extra`
        // overflow map (schema-less inserts, §1.4) PROMOTE into the new
        // declared column — declaring a property must not null data the
        // records already carry. Only atomic types promote (the map
        // stores strings; string→array/map/link casts don't exist).
        val promotable = target match {
          case _: ArrayType | _: MapType | _: StructType => false
          case _ => true
        }
        val key = field.toLowerCase // overflow keys are lower-cased
        cat.replaceData(cls,
          if (df.columns.exists(_.equalsIgnoreCase(field))) df
          else if (promotable && df.columns.contains("_extra"))
            df.withColumn(field,
                element_at(col("_extra"), key).cast(target))
              // strip the overflow entry ONLY when its value actually
              // promoted (cast succeeded or was absent): an uncastable
              // value ('abc' → INTEGER) stays in _extra instead of
              // being silently destroyed alongside a null column
              .withColumn("_extra",
                map_filter(col("_extra"), (mk, mv) => mk =!= lit(key) ||
                  (mv.isNotNull && mv.cast(target).isNull)))
          else df.withColumn(field, lit(null).cast(target)))
        cat.setProperty(PropertyDef(cat.get(cls).name, field, tpe,
          linkedClass = linked))
        one(spark, 1)
      case RemovePropertyStmt(cls, field) =>
        cat.replaceData(cls, cat.table(cls).drop("_rid", "_class", field))
        cat.properties.remove((cls.toLowerCase, field.toLowerCase))
        one(spark, 1)
      case CreateIndexStmt(cls, field, kind) =>
        if (kind == "UNIQUE") {
          // write-path uniqueness check replaces the MVRB-tree insert
          // guard (OPropertyIndexUnique): reject if duplicates exist
          val dups = cat.table(cls).groupBy(col(field)).count()
            .filter(col("count") > 1).limit(1).count()
          if (dups > 0) throw new IllegalStateException(
            s"cannot create UNIQUE index on $cls.$field: duplicate keys")
        }
        if (kind == "FULLTEXT" && cat.get(cls).ridPosCol.isDefined)
          // build+materialize the posting table FIRST — index creation
          // pays the tokenize pass so queries don't (reference builds
          // its word→RID tree at indexing time, OPropertyIndexFullText),
          // and a failed build must not leave a half-created index
          // registered (and durably manifested). Unkeyed classes keep
          // the index advisory: the scan-path tokenizer still answers
          // CONTAINSTEXT on them.
          cat.fulltext.postingFor(cat, cls, field)
        cat.indexes((cls.toLowerCase, field.toLowerCase)) = kind
        cat.persistManifest()
        one(spark, 1)
      case RemoveIndexStmt(cls, field) =>
        cat.indexes.remove((cls.toLowerCase, field.toLowerCase))
        cat.fulltext.remove(cls, field)
        cat.persistManifest()
        one(spark, 1)
      case s: CreateLinkStmt => createLink(session, s)
      case GrantStmt(perm, resource, role, revoke) =>
        val key = (role.toLowerCase, resource.toLowerCase)
        val cur = cat.acl.getOrElse(key, Set())
        if (revoke) cat.acl(key) = cur - perm else cat.acl(key) = cur + perm
        cat.persistManifest()
        one(spark, 1)
      case _: SelectStmt =>
        throw new IllegalArgumentException("SELECT handled by query()")
    }
  }

  private def one(spark: SparkSession, n: Long): DataFrame = {
    spark.createDataFrame(
      List(Row(n)).asJava, StructType(Seq(StructField("count", LongType))))
  }

  /** OType name → Spark type (SURVEY.md §1.3 mapping). */
  def oTypeToSpark(t: String): DataType = t.toUpperCase match {
    case "BOOLEAN" => BooleanType
    case "INTEGER" => IntegerType
    case "SHORT" => ShortType
    case "LONG" => LongType
    case "BYTE" => ByteType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "DATE" => TimestampType
    case "STRING" => StringType
    case "BINARY" => BinaryType
    case "EMBEDDEDLIST" | "EMBEDDEDSET" | "LINKLIST" | "LINKSET" =>
      ArrayType(StringType)
    case "EMBEDDEDMAP" | "LINKMAP" => MapType(StringType, StringType)
    case "LINK" =>
      StructType(Seq(StructField("clusterId", IntegerType),
        StructField("pos", LongType)))
    case other => throw new IllegalArgumentException(s"unknown type $other")
  }

  private def litOf(e: SqlExpr): org.apache.spark.sql.Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case RidLit(c, p) => struct(lit(c).as("clusterId"), lit(p).as("pos"))
    case ListLit(items) => array(items.map(litOf): _*)
    case other => throw new IllegalArgumentException(s"unsupported value $other")
  }

  private def insert(session: GraftSession, s: InsertStmt): DataFrame = {
    if (s.fields.size != s.values.size)
      throw new IllegalArgumentException(
        s"INSERT into ${s.cls}: ${s.fields.size} fields but " +
          s"${s.values.size} values")
    val cat = session.catalog
    val existing = cat.table(s.cls).drop("_rid", "_class")
    // Schema-less per-record fields (reference `ODocument.java:54-59`,
    // SURVEY §1.4): the FIRST insert into an empty class bootstraps the
    // column schema; afterwards, fields that are neither existing
    // columns nor declared properties go into the `_extra`
    // map<string,string> overflow column — one ad-hoc field on one
    // record must not mint a global column (10M distinct ad-hoc fields
    // would otherwise mean 10M columns).
    val bootstrap = existing.columns.isEmpty
    val declared = cat.propsOf(s.cls).map(_.name.toLowerCase).toSet
    // a still-empty class (declared properties, no rows yet) also
    // bootstraps: its column shape is not yet settled by data. One
    // lazy action, evaluated only when an undeclared field appears.
    lazy val noRowsYet = existing.isEmpty
    def isReal(f: String): Boolean = bootstrap ||
      existing.columns.exists(_.equalsIgnoreCase(f)) ||
      declared.contains(f.toLowerCase) || noRowsYet
    val (realFields, extraFields) =
      s.fields.zip(s.values).partition { case (f, _) => isReal(f) }
    // a local relation: the row, its validation and its append into
    // the class's delta are evaluated on the driver, with no job
    var row = session.spark.createDataFrame(
        java.util.List.of(Row()), StructType(Nil))
      .select(realFields.map { case (f, v) => litOf(v).as(f) }: _*)
    if (extraFields.nonEmpty)
      // keys lower-cased: field resolution is case-insensitive
      // everywhere else in the engine, so the overflow map must be too
      row = row.withColumn("_extra", map(extraFields.flatMap {
        case (f, v) => Seq(lit(f.toLowerCase), litOf(v).cast(StringType))
      }: _*))
    // per-record version surface (@version): new records start at 0,
    // each UPDATE touch increments (reference ORecordAbstract versions)
    row = row.withColumn("_version", lit(0))
    // BEFORE_CREATE hooks may transform the incoming rows (fired before
    // the schema union so hook-added columns survive)
    row = session.hooks.fire(Hooks.BeforeCreate, s.cls, row)
    val allCols = (existing.columns ++
      row.columns.filterNot(c => existing.columns.contains(c))).toSeq
    def extend(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    // constraint validation on the rows AS INSERTED (pre-extension:
    // `mandatory` means the field was present in the record, reference
    // `validateField:170-172`) — one batch expression pass
    Validation.validate(row, cat.propsOf(s.cls))
    // metadata checks only — a zero-column table has nothing to union
    // (running existing.isEmpty here would cost a job per INSERT), and
    // a row that adds no column appends to the class's data as it is
    if (existing.columns.isEmpty) cat.replaceData(s.cls, row)
    else if (allCols == existing.columns.toSeq) cat.append(s.cls, extend(row))
    else cat.replaceData(s.cls, extend(existing).unionByName(extend(row)))
    session.hooks.fire(Hooks.AfterCreate, s.cls, row)
    one(session.spark, 1)
  }

  private def update(session: GraftSession, s: UpdateStmt): DataFrame = {
    val cat = session.catalog
    val cls = cat.get(s.cls)
    val table = cat.table(s.cls)
    val hit = s.where
      .map(w => session.translator.compileCondLenient(table, cls, w))
      .getOrElse(lit(true))
    val declared = cat.propsOf(s.cls).map(_.name.toLowerCase).toSet
    val updated0 = s.ops.foldLeft(table.withColumn("__hit", hit)) {
      case (df, SetField(f, v))
          if !df.columns.exists(_.equalsIgnoreCase(f)) &&
            !declared.contains(f.toLowerCase) =>
        // undeclared ad-hoc field → _extra overflow map, same rule as
        // INSERT (no global column for a per-record field)
        val extra = if (df.columns.contains("_extra"))
          coalesce(col("_extra"), map()) else map()
        val key = f.toLowerCase // overflow keys are case-insensitive
        df.withColumn("_extra", when(col("__hit"),
          map_concat(
            map_filter(extra, (mk, _) => mk =!= lit(key)),
            map(lit(key), litOf(v).cast(StringType))))
          .otherwise(if (df.columns.contains("_extra")) col("_extra")
            else lit(null).cast(MapType(StringType, StringType))))
      case (df, SetField(f, v)) =>
        df.withColumn(f, when(col("__hit"), litOf(v))
          .otherwise(if (df.columns.exists(_.equalsIgnoreCase(f))) col(f)
            else lit(null)))
      case (df, AddToCollection(f, v)) =>
        df.withColumn(f, when(col("__hit"),
          array_union(coalesce(col(f), array()), array(litOf(v))))
          .otherwise(col(f)))
      case (df, RemoveFromCollection(f, Some(v))) =>
        df.withColumn(f, when(col("__hit"), array_remove(col(f), litOf(v)))
          .otherwise(col(f)))
      case (df, RemoveFromCollection(f, None)) =>
        // REMOVE field (no value): null the field (columnar model can't
        // drop per-record fields — documented deviation)
        df.withColumn(f, when(col("__hit"), lit(null)).otherwise(col(f)))
      case (df, PutToMap(f, k, v)) =>
        df.withColumn(f, when(col("__hit"),
          map_concat(
            map_filter(coalesce(col(f), map()), (mk, _) => mk =!= litOf(k)),
            map(litOf(k), litOf(v))))
          .otherwise(col(f)))
    }
    // touched records bump their version (@version optimistic-tx
    // surface; reference ORecordAbstract.version)
    val updated = updated0.withColumn("_version",
      when(col("__hit"),
        (if (updated0.columns.contains("_version"))
          coalesce(col("_version"), lit(0)) else lit(0)) + 1)
        .otherwise(if (updated0.columns.contains("_version"))
          col("_version") else lit(0)))
    session.hooks.fire(Hooks.BeforeUpdate, s.cls, table.filter(hit))
    val n = rewrite(cat, s.cls, updated, lit(true),
      Validation.violationColumn(updated, cat.propsOf(s.cls)))
    session.hooks.fire(Hooks.AfterUpdate, s.cls,
      updated.filter(col("__hit")).drop("__hit"))
    one(session.spark, n)
  }

  private def delete(session: GraftSession, s: DeleteStmt): DataFrame = {
    val cat = session.catalog
    val cls = cat.get(s.cls)
    val table = cat.table(s.cls)
    val hit = s.where
      .map(w => session.translator.compileCondLenient(table, cls, w))
      .getOrElse(lit(true))
    session.hooks.fire(Hooks.BeforeDelete, s.cls, table.filter(hit))
    val n = rewrite(cat, s.cls, table.withColumn("__hit", hit),
      !coalesce(col("__hit"), lit(false)), lit(null))
    session.hooks.fire(Hooks.AfterDelete, s.cls, table.filter(hit))
    one(session.spark, n)
  }

  /** UPDATE/DELETE's one job: `marked` is the class's rows with `__hit`
    * set on the statement's hits; the rows `keep` selects become the
    * class's next version, materialised by one eager localCheckpoint.
    * An observation below that filter carries the hit count and the
    * first `violation` among the hit rows; a violation refuses the
    * statement with the class unchanged. Returns the hit count. */
  private def rewrite(cat: Catalog, cls: String, marked: DataFrame,
      keep: Column, violation: Column): Long = {
    val next = marked
      .observe(Observed, count_if(col("__hit")).as("n"),
        first(when(col("__hit"), violation), ignoreNulls = true)
          .as("violation"))
      .filter(keep)
      .drop("__hit", "_rid", "_class")
    val (stored, metrics) = cat.materialise(cls, next)
    val m = metrics(Observed)
    if (!m.isNullAt(1)) throw ValidationException(m.getString(1))
    cat.replaceData(cls, stored)
    m.getLong(0)
  }

  private val Observed = "graft_dml"

  /** CREATE LINK … FROM c1.f1 TO c2.f2 [INVERSE]
    * (`OCommandExecutorSQLCreateLink.java:42-159`): the reference
    * materializes RID references by a one-time value-equality join. In
    * the FK-link model the equi-join IS the link — we register the
    * LinkSpec; INVERSE registers the reverse multi-link on the target. */
  private def createLink(session: GraftSession, s: CreateLinkStmt): DataFrame = {
    val cat = session.catalog
    val name = s.name.getOrElse(s.toCls.toLowerCase)
    cat.addLink(s.fromCls, LinkSpec(name, s.toCls, s.fromField, s.toField))
    if (s.inverse)
      cat.addLink(s.toCls,
        LinkSpec(s.fromCls.toLowerCase + "s", s.fromCls, s.toField,
          s.fromField, multi = true))
    val n = cat.table(s.fromCls).join(cat.table(s.toCls).drop("_rid", "_class"),
      col(s.fromField) === col(s.toField)).count()
    one(session.spark, n)
  }
}
