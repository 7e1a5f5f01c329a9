package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.FunctionRegistry

/** User-facing facade mirroring the reference's database API surface
  * (SURVEY.md §2.10-2.11): `query(sql)` ↔ `OSQLSynchQuery`,
  * `browseClass` ↔ `ODatabaseDocumentTx.browseClass`,
  * `registerFunction` ↔ `OSQLEngine.registerFunction`.
  * Instead of a network server, the product API returns DataFrames —
  * the Spark-native equivalent of the remote COMMAND op.
  */
final class GraftSession private (val spark: SparkSession,
    val catalog: Catalog, val principal: Option[String],
    principalRoles: Set[String], parent: Option[GraftSession]) {
  def this(spark: SparkSession, catalog: Catalog) =
    this(spark, catalog, None, Set.empty, None)
  val functions: FunctionRegistry =
    parent.map(_.functions).getOrElse(new FunctionRegistry)
  val hooks: HookRegistry =
    parent.map(_.hooks).getOrElse(new HookRegistry)
  // facades share the registry STATE but check their own principal
  lazy val dictionary: Dictionary =
    parent.map(_.dictionary.viewFor(this)).getOrElse(new Dictionary(this))
  private[engine] val translator = new Translator(catalog, functions)

  // ---- security enforcement (§2.9 GRANT/REVOKE) -------------------
  // Reference: every SELECT/DML path consults the security catalog
  // before touching data — OCommandExecutorSQLSelect.execute:158-165
  // checks (CLASS, PERMISSION_READ, className) via OSecurity /
  // ODatabaseSecurityResources. Graft's analog: a session bound to a
  // principal via [[as]] consults the stored GRANTs (which are
  // manifest-persisted, so enforcement survives a durable reopen); an
  // unbound session is the embedded superuser connection and bypasses
  // the checks, which keeps the library's programmatic surface open.

  /** a facade over the SAME catalog/functions/hooks, bound to a
    * principal: every query/command now consults the ACL catalog. */
  def as(role: String): GraftSession =
    new GraftSession(spark, catalog, Some(role), Set(role.toLowerCase),
      Some(this))

  /** Password authentication — the reference security model is users
    * AND roles: a named user carries a SHA-256 credential
    * (`OUser.checkPassword`, `OUser.java:137-139`) and resolves every
    * permission through its ROLE set (`OUser.checkIfAllowed`,
    * `OUser.java:114-120`). Returns a facade bound to the user whose
    * checks pass if ANY of the user's roles grants (reference
    * iteration order). Wrong user or password → SecurityException;
    * the stored credential is only ever the digest. */
  def authenticate(user: String, password: String): GraftSession = {
    val u = user.toLowerCase
    val (sha, roles) = catalog.users.getOrElse(u,
      throw new SecurityException(s"unknown user '$user'"))
    if (GraftSession.sha256(password) != sha)
      throw new SecurityException(s"wrong password for user '$user'")
    new GraftSession(spark, catalog, Some(u), roles, Some(this))
  }

  /** Create/replace a user. The PLAINTEXT password is hashed HERE, at
    * save time — the reference auto-encrypts on every OUser save
    * (`OUserTrigger.onRecordBeforeUpdate`, `OUserTrigger.java:28-37`),
    * so a plaintext credential never reaches the durable catalog.
    * User administration is a security-catalog write, same resource
    * as GRANT/REVOKE. */
  def createUser(name: String, password: String,
      roles: Seq[String]): Unit = {
    checkPermission("database.security", "UPDATE")
    catalog.userPut(name, GraftSession.sha256(password), roles.toSet)
  }

  /** re-hash-on-save password change (`OUserTrigger` parity). */
  def setUserPassword(name: String, password: String): Unit = {
    checkPermission("database.security", "UPDATE")
    val u = name.toLowerCase
    val (_, roles) = catalog.users.getOrElse(u,
      throw new IllegalArgumentException(s"unknown user '$name'"))
    catalog.userPut(u, GraftSession.sha256(password), roles)
  }

  def dropUser(name: String): Unit = {
    checkPermission("database.security", "UPDATE")
    catalog.userRemove(name)
  }

  /** class-level resource names follow the reference
    * (`database.class.<name>`); a grant on `database.class.*` covers
    * every class, and the ALL permission covers every action. A
    * permission is granted if ANY of the principal's roles carries it
    * (`OUser.checkIfAllowed` iterates the role set). */
  private def checkPermission(resource: String, perm: String): Unit =
    principal.foreach { who =>
      val res = resource.toLowerCase
      val wildcard = res.split('.').dropRight(1).mkString(".") + ".*"
      val ok = principalRoles.exists { r =>
        val perms = catalog.acl.getOrElse((r, res), Set()) ++
          catalog.acl.getOrElse((r, wildcard), Set())
        perms.exists(p => p.equalsIgnoreCase(perm) ||
          p.equalsIgnoreCase("ALL"))
      }
      if (!ok)
        throw new SecurityException(
          s"principal '$who' lacks $perm permission on $resource")
    }

  private def classResource(cls: String): String =
    if (cls.isEmpty) "database.class.*" else s"database.class.$cls"

  /** READ check on one class, for engine collaborators (dictionary
    * views dereference records under the CALLING facade's principal). */
  private[engine] def checkClassRead(cls: String): Unit =
    checkPermission(classResource(cls), "READ")

  /** UPDATE check — destructive registry ops (dictionary remove) need
    * write rights on the registered class, mirroring put/get. */
  private[engine] def checkClassUpdate(cls: String): Unit =
    checkPermission(classResource(cls), "UPDATE")

  /** creating a backing class (first model save) is schema DDL —
    * same resource the CREATE CLASS statement checks. */
  private[engine] def checkClassCreate(cls: String): Unit =
    checkPermission("database.schema", "CREATE")

  /** durable trained-model registry (LR weights, centroids — SURVEY
    * §8); facades share catalog state but check their own principal. */
  lazy val models: ModelStore = new ModelStore(this)

  /** the resource+permission a statement needs (reference mapping:
    * class CRUD on `database.class.<n>`, schema DDL on
    * `database.schema`, GRANT/REVOKE themselves on
    * `database.security`). */
  private def checkStmt(stmt: Ast.Stmt): Unit = stmt match {
    case s: Ast.SelectStmt =>
      s.target match {
        case Ast.PipelineTarget(_, args) =>
          // a table function reads exactly its class arguments — READ
          // is checked per class, like browseClass on each
          args.collect { case Ast.Path(List(Ast.FieldSeg(n))) => n }
            .foreach(c => checkPermission(classResource(c), "READ"))
        case t =>
          val cls = t match {
            case Ast.ClassTarget(n) => n
            case _ => ""
          }
          checkPermission(classResource(cls), "READ")
          // link navigation reads OTHER classes' records too (the
          // reference checks on record load, per cluster) — a grant on
          // the target class alone must not exfiltrate linked classes
          // via `nation.region.r_name`, multi-link CONTAINS or TRAVERSE
          if (principal.isDefined && cls.nonEmpty)
            linkedClassesUsed(s, cls)
              .foreach(c => checkPermission(classResource(c), "READ"))
      }
    case s: Ast.InsertStmt => checkPermission(classResource(s.cls), "CREATE")
    case s: Ast.UpdateStmt => checkPermission(classResource(s.cls), "UPDATE")
    case s: Ast.DeleteStmt => checkPermission(classResource(s.cls), "DELETE")
    case _: Ast.CreateClassStmt | _: Ast.CreatePropertyStmt |
        _: Ast.CreateIndexStmt | _: Ast.CreateLinkStmt =>
      checkPermission("database.schema", "CREATE")
    case _: Ast.RemoveClassStmt | _: Ast.RemovePropertyStmt |
        _: Ast.RemoveIndexStmt =>
      checkPermission("database.schema", "DELETE")
    case _: Ast.GrantStmt => checkPermission("database.security", "UPDATE")
  }

  /** every class a SELECT reads BEYOND its target: link-field hops in
    * any expression position, the target classes of multi-link
    * CONTAINS/CONTAINSALL, and — for TRAVERSE, which roams the link
    * graph — every class transitively reachable from the target. */
  private def linkedClassesUsed(s: Ast.SelectStmt,
      baseCls: String): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    def followPath(segs: List[Ast.Seg], cls: String): Unit = segs match {
      case Ast.FieldSeg(f) :: rest if catalog.contains(cls) =>
        catalog.linkOf(catalog.get(cls), f).foreach { spec =>
          out += spec.target.toLowerCase
          followPath(rest, spec.target)
        }
      case _ => ()
    }
    def reachable(cls: String): Unit =
      if (catalog.contains(cls)) {
        val seen = scala.collection.mutable.Set[String]()
        var frontier = List(cls.toLowerCase)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(c =>
            if (catalog.contains(c)) catalog.get(c).links.map(_.target.toLowerCase)
            else Nil).filterNot(seen)
          seen ++= frontier
          out ++= next
          frontier = next.distinct
        }
      }
    def expr(e: Ast.SqlExpr): Unit = e match {
      case Ast.Path(segs) =>
        followPath(segs, baseCls)
        segs.foreach { case Ast.MethodSeg(_, args) => args.foreach(expr)
          case _ => () }
      case Ast.ListLit(items) => items.foreach(expr)
      case _ => ()
    }
    def cond(c: Ast.Cond): Unit = c match {
      case Ast.And(l, r) => cond(l); cond(r)
      case Ast.Or(l, r) => cond(l); cond(r)
      case Ast.Not(i) => cond(i)
      case Ast.Cmp(l, _, r) => expr(l); expr(r)
      case Ast.ContainsCond(left, _, _) => expr(left)
      case Ast.IsNull(e, _) => expr(e)
      case Ast.BareBool(e) => expr(e)
      case _: Ast.TraverseCond => reachable(baseCls)
    }
    s.projections.foreach(p => expr(p.expr))
    s.where.foreach(cond)
    s.orderBy.foreach(o => expr(o.expr))
    out.toSet
  }

  /** Run a dialect SELECT → DataFrame (lazy; caller triggers actions).
    * READ hooks observe/transform the result frame (batch semantics). */
  def query(sql: String): DataFrame = {
    val stmt = Parser.parseSelect(sql)
    checkStmt(stmt)
    val cls = stmt.target match {
      case Ast.ClassTarget(n) => n
      case _ => ""
    }
    val df = translator.select(stmt)
    hooks.fire(Hooks.AfterRead, cls,
      hooks.fire(Hooks.BeforeRead, cls, df))
  }

  /** EXPLAIN a dialect SELECT — the operability surface the reference
    * never had (its planner is opaque; `OCommandExecutorSQLSelect`
    * decides index-vs-scan internally with no user-visible trace):
    * returns Catalyst's formatted physical plan for the translated
    * query, so a user can SEE whether a predicate pushed into the
    * parquet scan, a link-nav join broadcast, or a FULLTEXT index
    * probe replaced a re-tokenization. Same parse + ACL path as
    * [[query]]; nothing executes. */
  def explain(sql: String): String = {
    val df = query(sql)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** per class, the version [[sql]] last registered as a temp view and
    * the view entry it made */
  private val views = scala.collection.mutable.Map[String,
    (ClassDef, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation)]()

  /** raw Spark SQL over the catalog's classes (each registered as a
    * temp view of its stored columns) — the escape hatch the
    * reference's COMMAND op never had; full Catalyst surface. A view
    * is registered again only when its class has a new version or the
    * view was replaced since. Under a principal it exposes every class
    * at once, so it requires the wildcard READ grant. */
  def sql(sqlText: String): DataFrame = {
    checkPermission("database.class.*", "READ")
    val sessionCatalog = spark.sessionState.catalog
    catalog.all.foreach { c =>
      val key = c.name.toLowerCase
      val current = views.get(key).exists { case (v, view) =>
        (v eq c) && sessionCatalog.getRawTempView(c.name).exists(_ eq view)
      }
      if (!current) {
        catalog.data(c.name).createOrReplaceTempView(c.name)
        views(key) = (c, sessionCatalog.getRawTempView(c.name).get)
      }
    }
    spark.sql(sqlText)
  }

  /** fluent native predicate query (`ONativeSynchQuery` parity):
    * {{{ g.nativeQuery("customer")(f => f("c_acctbal").major(1000)) }}} */
  def nativeQuery(cls: String)(
      pred: NativeQuery.Ctx => NativeQuery.Pred): DataFrame =
    browseClass(cls).filter(pred(new NativeQuery.Ctx).c)

  private def dataColumns(cls: String): Seq[String] =
    browseClass(cls).columns.filterNot(c =>
      c.startsWith("_") || c.startsWith("__")).toSeq

  /** positional native query (`OQueryContextNativePositional`):
    * {{{ g.nativeQueryPositional("customer")(r => r.column(0).minor(10)) }}} */
  def nativeQueryPositional(cls: String)(
      pred: NativeQuery.PositionalCtx => NativeQuery.Pred): DataFrame =
    browseClass(cls).filter(
      pred(new NativeQuery.PositionalCtx(dataColumns(cls))).c)

  /** schema-checked native query (`OQueryContextNativeSchema`): field
    * names validate against the class schema at build time. */
  def nativeQuerySchema(cls: String)(
      pred: NativeQuery.SchemaCtx => NativeQuery.Pred): DataFrame =
    browseClass(cls).filter(
      pred(new NativeQuery.SchemaCtx(cls, dataColumns(cls))).c)

  /** whole-database JSON dump / load (`ODatabaseExport/Import`).
    * Export reads every class → wildcard READ; import registers
    * classes and rewrites data → schema + wildcard CREATE. */
  def exportDatabase(dir: String): Unit = {
    checkPermission("database.class.*", "READ")
    JsonTools.exportDatabase(this, dir)
  }
  def importDatabase(dir: String): Unit = {
    checkPermission("database.schema", "CREATE")
    checkPermission("database.class.*", "CREATE")
    JsonTools.importDatabase(this, dir)
  }

  /** deep-compare this database against another (reference
    * `ODatabaseCompare`, driven by `DbCompareTest`). Reads every
    * class on BOTH sides — each side's principal needs wildcard READ. */
  def compareWith(other: GraftSession): DataFrame = {
    checkPermission("database.class.*", "READ")
    other.checkPermission("database.class.*", "READ")
    JsonTools.compareDatabases(this, other)
  }

  /** JSON documents with fetch-plan-driven link expansion (the plan
    * may pull linked classes in — enforced like [[sql]]: wildcard). */
  def fetchJson(cls: String, fetchPlan: String = ""): DataFrame = {
    checkPermission("database.class.*", "READ")
    JsonTools.fetchJson(this, cls, fetchPlan)
  }

  /** Parse any supported statement; SELECTs return rows (through the
    * same READ-hook path as [[query]]), DML/DDL are interpreted by
    * [[Commands]]. */
  def command(sql: String): DataFrame = Parser.parseStatement(sql) match {
    case s: Ast.SelectStmt =>
      checkStmt(s)
      val cls = s.target match {
        case Ast.ClassTarget(n) => n
        case _ => ""
      }
      hooks.fire(Hooks.AfterRead, cls,
        hooks.fire(Hooks.BeforeRead, cls, translator.select(s)))
    case other =>
      checkStmt(other)
      Commands.execute(this, other)
  }

  /** programmatic statement entry — the SAME ACL + hook path as
    * [[command]], minus the parser. The graph facade
    * ([[graft.graph.GraphApi]]) builds Ast nodes directly so field
    * values keep their exact runtime types instead of round-tripping
    * through SQL literal text. */
  private[graft] def execute(stmt: Ast.Stmt): DataFrame = stmt match {
    case _: Ast.SelectStmt =>
      throw new IllegalArgumentException("SELECT goes through query()")
    case other =>
      checkStmt(other)
      Commands.execute(this, other)
  }

  /** Begin an atomic multi-statement unit (the reference's optimistic
    * transaction, `core/.../tx/OTransactionOptimistic.java`; the remote
    * protocol ships the whole batch in one COMMIT op). Until [[commit]],
    * DML/DDL effects are visible only to THIS session (read-your-
    * writes); nothing reaches durable storage. [[commit]] stages all
    * touched data, then performs ONE atomic manifest rename as the
    * commit point — a crash before it leaves nothing visible after
    * reopen, a crash after it rolls the whole batch forward.
    * [[rollback]] restores the pre-transaction catalog. */
  def begin(): Unit = catalog.beginTx()
  def commit(): Unit = catalog.commitTx()
  def rollback(): Unit = catalog.rollbackTx()

  /** opt-in RECORD-level optimistic concurrency (default is class-
    * granular, the documented deviation): with this on, a commit into
    * a class another session changed since [[begin]] succeeds when the
    * two transactions touched DISJOINT keys (this tx's row changes
    * rebase onto the new version) and throws
    * `ConcurrentModificationException` when any touched key collides —
    * the reference's per-record MVCC behavior
    * (`core/.../tx/OTransactionOptimistic.java`;
    * `TransactionOptimisticTest.java:79-104`). */
  def setRecordLevelConflicts(on: Boolean): Unit =
    catalog.recordLevelTx = on

  /** run `stmts` as one atomic unit: all committed, or none (any
    * failure rolls the batch back and rethrows). */
  def transaction(stmts: Seq[String]): Unit = {
    begin()
    try { stmts.foreach(command); commit() }
    catch { case e: Throwable => if (catalog.txInProgress) rollback(); throw e }
  }

  /** Bulk append — the reference's massive-insert intent
    * (`OIntentMassiveInsert`, SURVEY.md §4) as one batch operation:
    * BEFORE_CREATE hooks transform the whole frame, constraints
    * validate in one pass, and the class data is extended by a single
    * union (per-record insert loops have no place in a batch engine).
    * Schema-less extras become new columns, missing columns go null. */
  def appendData(cls: String, rows: DataFrame): Long = {
    checkPermission(classResource(cls), "CREATE")
    val hooked = hooks.fire(Hooks.BeforeCreate, cls, rows)
    Validation.validate(hooked, catalog.propsOf(cls))
    val existing = catalog.table(cls).drop("_rid", "_class")
    val allCols = (existing.columns ++
      hooked.columns.filterNot(c => existing.columns.contains(c))).toSeq
    def extend(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) org.apache.spark.sql.functions.col(c)
        else org.apache.spark.sql.functions.lit(null).as(c)): _*)
    if (existing.columns.isEmpty) catalog.replaceData(cls, hooked)
    else if (allCols == existing.columns.toSeq)
      catalog.append(cls, extend(hooked))
    else catalog.replaceData(cls, extend(existing).unionByName(extend(hooked)))
    hooks.fire(Hooks.AfterCreate, cls, hooked)
    rows.count()
  }

  /** `browseClass(name, polymorphic)` — record iteration API. */
  def browseClass(name: String, polymorphic: Boolean = true): DataFrame = {
    checkPermission(classResource(name), "READ")
    if (polymorphic) catalog.polymorphicScan(name) else catalog.table(name)
  }

  /** committed historical versions of a durable class (ACL: READ). */
  def classVersions(name: String): Seq[Long] = {
    checkPermission(classResource(name), "READ")
    catalog.tableVersions(name)
  }

  /** time-travel scan: the class AS OF an earlier committed version
    * (non-polymorphic — history is per concrete class; ACL: READ). */
  def browseClassAsOf(name: String, version: Long): DataFrame = {
    checkPermission(classResource(name), "READ")
    catalog.tableAt(name, version)
  }

  /** change feed between two committed versions of a durable class:
    * rows tagged `_change` ∈ {added, removed} (ACL: READ). */
  def classDiff(name: String, fromV: Long, toV: Long): DataFrame = {
    checkPermission(classResource(name), "READ")
    catalog.diffVersions(name, fromV, toV)
  }

  /** runtime-pluggable SQL function (`OSQLEngine.registerFunction`). */
  def registerFunction(name: String, f: Seq[Column] => Column): Unit =
    functions.register(name, f)
}

object GraftSession {
  /** SHA-256 hex digest — the reference credential encoding
    * (`OSecurityManager.digest2String`,
    * `core/.../security/OSecurityManager.java:59-66`). */
  private[engine] def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** session over the driver-provided testdata tables. */
  def forTestdata(spark: SparkSession, dir: String): GraftSession =
    new GraftSession(spark, Catalog.forTestdata(spark, dir))

  /** Durable session: DML/DDL commit parquet versions (plus a catalog
    * manifest for created classes) under `root`; reopening over the
    * same root replays them — a restart loses nothing (§2.9's Delta
    * mapping; reference durability via its storage layer). `dir` seeds
    * the testdata classes, whose un-mutated tables still read from
    * source. */
  def openDurable(spark: SparkSession, dir: String,
      root: String): GraftSession = {
    val cat = Catalog.forTestdata(spark, dir)
    cat.enableDurability(root)
    new GraftSession(spark, cat)
  }

  /** Durable session with no testdata seeding (pure created-class DB). */
  def openDurable(spark: SparkSession, root: String): GraftSession = {
    val cat = new Catalog(spark)
    cat.enableDurability(root)
    new GraftSession(spark, cat)
  }
}
