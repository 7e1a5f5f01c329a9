package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{BuiltinFunctions, FullText, FunctionRegistry}

/** AST → DataFrame translator (SURVEY.md §3.1 step 6: the reference's
  * per-record interpreted scan becomes a declarative Catalyst plan).
  *
  * Scale design:
  *  - predicates/projections are plain `Column` trees → Catalyst pushes
  *    them into the parquet scan (PushedFilters / ReadSchema pruning);
  *  - LINK navigation (`a.b.c`, `OSQLFilterItemAbstract` FIELD op)
  *    becomes equi-joins — dimension-sized targets broadcast via
  *    Spark's auto-broadcast/AQE, nothing is collected to the driver;
  *  - multi-links (LINKLIST) aggregate the target side BEFORE the join
  *    (map-side combinable `collect_list`), so the join is 1:1; a
  *    top-level positive `link CONTAINS (cond)` whose link nothing else
  *    reads is a left-semi join against the matching target keys;
  *  - TRAVERSE flags base rows by left joins: bounded shallow forms
  *    against per-link key sets from reverse reachability, the rest
  *    against the origins of a frontier expansion of (origin, node)
  *    id-pair DataFrames — state stays distributed, the driver only
  *    drives the loop (SURVEY.md §2.3 TRAVERSE). A top-level positive
  *    TRAVERSE with one first-hop key set and no `self` term is a
  *    left-semi join against that set instead;
  *  - ORDER BY without LIMIT over broadcast-sized inputs sorts in one
  *    task; otherwise it is Spark's global (range-partitioned) sort.
  */
final class Translator(val catalog: Catalog, val registry: FunctionRegistry) {
  import Ast._

  /** Runaway-loop safety valve for TRAVERSE(…,-1): the traversal runs
    * to the visited-set fixpoint (frontier empty) like the reference —
    * this only bounds pathological cases, and exceeding it RAISES
    * rather than silently truncating the reachable set. */
  var maxTraverseDepth: Int = 1000

  def select(stmt: SelectStmt): DataFrame = {
    val (scan0, clsOpt) = scanTarget(stmt.target)
    // index access path: answer indexed CONTAINSTEXT conjuncts from the
    // FULLTEXT posting table BEFORE join planning, so downstream link
    // joins see the reduced row set
    val (scan, residualWhere) =
      applyFulltextIndex(scan0, clsOpt, stmt.where, stmt.target)
    val planner = new JoinPlanner(scan, clsOpt)

    // pre-resolve link joins + traverse flags for every path in the
    // stmt; top-level CONTAINS conjuncts go last, so one only becomes a
    // semi-join when nothing else in the statement reads its link
    val conjuncts = residualWhere.toList.flatMap(conjunctsOf)
    val (contains, others) = conjuncts.partition(_.isInstanceOf[ContainsCond])
    val joined = others.filter(planner.planConjunct).toSet
    stmt.projections.foreach(p => planner.prepareExpr(p.expr))
    stmt.orderBy.foreach(o => planner.prepareExpr(o.expr))
    val semiJoined = joined ++ contains.filter(planner.planConjunct)

    var df = planner.df
    val scope = planner.scope

    conjuncts.filterNot(semiJoined).reduceOption(And(_, _))
      .foreach { c => df = df.filter(compileCond(c, scope)) }

    stmt.range.foreach { case (from, to) =>
      // RANGE pushdown (§2.1): keyset pagination on the _rid ordering
      val rid = col("_rid")
      val lo = ridGte(rid, from)
      df = df.filter(to.map(t => lo && ridLte(rid, t)).getOrElse(lo))
    }

    // ORDER BY before projection: Catalyst keeps ordering through the
    // subsequent narrow select; LIMIT after sort = correct top-k
    // (deliberate deviation from the reference's pre-sort truncation,
    // SURVEY.md §2.8). Without a LIMIT, inputs small enough to
    // broadcast sort in one task: no sample job, no range exchange.
    if (stmt.orderBy.nonEmpty) {
      val sortCols = stmt.orderBy.map { o =>
        val c = compileExpr(o.expr, scope)
        if (o.asc) c.asc else c.desc
      }
      df = if (stmt.limit.isEmpty && broadcastSized(df))
        df.coalesce(1).sortWithinPartitions(sortCols: _*)
      else df.orderBy(sortCols: _*)
    }

    df = applyProjections(df, stmt.projections, scope)
    stmt.limit.foreach(n => df = df.limit(n))
    df
  }

  /** true when the leaf relations of `df`'s analyzed plan sum to at
    * most `spark.sql.autoBroadcastJoinThreshold`: inputs Spark would
    * already ship whole to every executor. A disabled threshold (<= 0)
    * or an unknown size (the default estimate) reads as too large. */
  private def broadcastSized(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum <= threshold
  }

  private def conjunctsOf(c: Cond): List[Cond] = c match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case other => List(other)
  }

  // ------------------------------------------------------------ scans
  private def scanTarget(t: Target): (DataFrame, Option[ClassDef]) = t match {
    case ClassTarget(name) =>
      (catalog.polymorphicScan(name), Some(catalog.get(name)))
    case ClusterTarget(name) =>
      // cluster scan = the class's own table, no subclasses (§2.1)
      (catalog.table(name), Some(catalog.get(name)))
    case PipelineTarget(fn, args) =>
      // table-function frames have no class identity (no _rid/_class
      // attrs, no link schema) — projections/filters compile against
      // the frame's own columns, like a RIDs union
      (PipelineTables.resolve(catalog, fn, args), None)
    case RidsTarget(rids) =>
      val byCluster = rids.groupBy(_.clusterId)
      val parts = byCluster.toSeq.map { case (cid, rs) =>
        val cls = catalog.byClusterId(cid).getOrElse(
          throw Parser.ParseException(s"no class for cluster $cid"))
        val df = catalog.table(cls.name)
        (df.filter(col("_rid.pos").isin(rs.map(_.pos): _*) &&
          col("_rid.clusterId") === cid), cls)
      }
      val df = parts.map(_._1).reduce(
        (a, b) => a.unionByName(b, allowMissingColumns = true))
      (df, parts.headOption.map(_._2).filter(_ => byCluster.size == 1))
  }

  /** FULLTEXT index access path (§2.9; reference
    * `OPropertyIndexFullText.java:92-200` probes word→RID lists instead
    * of scanning): rewrite top-level AND conjuncts of the form
    * `field CONTAINSTEXT 'literal'` into posting-table semi-joins when
    * a FULLTEXT index exists on (class, field). Only for plain class /
    * cluster targets with no subclasses — the posting table covers
    * exactly one physical table. Returns the (possibly semi-joined)
    * scan and the residual WHERE. */
  private def applyFulltextIndex(scan: DataFrame, clsOpt: Option[ClassDef],
      where: Option[Cond], target: Target): (DataFrame, Option[Cond]) = {
    val applicable = target match {
      case ClassTarget(_) | ClusterTarget(_) => true
      case _ => false
    }
    if (!applicable || where.isEmpty) return (scan, where)
    val cls = clsOpt match {
      case Some(c) if c.ridPosCol.isDefined &&
          catalog.subclassesOf(c.name).isEmpty => c
      case _ => return (scan, where)
    }
    var df = scan
    val residual = conjunctsOf(where.get).filter {
      case Cmp(Path(List(FieldSeg(f))), "containstext", Lit(text: String))
          if catalog.fulltextIndexed(cls.name, f) &&
            scan.columns.exists(_.equalsIgnoreCase(f)) =>
        val words = catalog.fulltext.significantWords(text)
        if (words.nonEmpty) {
          val keys =
            catalog.fulltext.matchingKeys(catalog, cls.name, f, words)
          df = df.join(keys,
            col(cls.ridPosCol.get).cast("long") === col("__ft_key"),
            "left_semi")
        }
        // empty significant-word set: vacuously true → drop conjunct
        // (matches forall-over-empty in the scan path)
        false
      case _ => true
    }
    (df, residual.reduceOption(And(_, _)))
  }

  private def ridGte(rid: Column, r: RidLit): Column =
    (rid.getField("clusterId") > r.clusterId) ||
      (rid.getField("clusterId") === r.clusterId &&
        rid.getField("pos") >= r.pos)
  private def ridLte(rid: Column, r: RidLit): Column =
    (rid.getField("clusterId") < r.clusterId) ||
      (rid.getField("clusterId") === r.clusterId &&
        rid.getField("pos") <= r.pos)

  // ==================================================== join planning
  /** Resolves link-chains to left-joined, prefix-renamed columns and
    * TRAVERSE conditions to precomputed boolean flag columns. */
  private final class JoinPlanner(base: DataFrame, baseCls: Option[ClassDef]) {
    var df: DataFrame = base
    private val baseCols = base.columns.toSeq
    /** link chain (lowercased) → (column prefix, target class, multi) */
    private val chains =
      scala.collection.mutable.LinkedHashMap[List[String], (String, ClassDef, Boolean)]()
    private var travCount = 0

    def prepareExpr(e: SqlExpr): Unit = e match {
      case Path(segs) => prepareSegs(segs)
      case ListLit(items) => items.foreach(prepareExpr)
      case _ => ()
    }

    def prepareCond(c: Cond): Unit = c match {
      case And(l, r) => prepareCond(l); prepareCond(r)
      case Or(l, r) => prepareCond(l); prepareCond(r)
      case Not(i) => prepareCond(i)
      case Cmp(l, _, r) => prepareExpr(l); prepareExpr(r)
      case IsNull(e, _) => prepareExpr(e)
      case BareBool(e) => prepareExpr(e)
      case ContainsCond(p, _, _) => prepareSegs(p.segs)
      case tc: TraverseCond => prepareTraverse(tc)
    }

    /** walk a path's leading FieldSegs through the link graph, joining
      * as needed; also recurse into method args. */
    private def prepareSegs(segs: List[Seg]): Unit = {
      segs.foreach {
        case MethodSeg(_, args) => args.foreach(prepareExpr)
        case _ => ()
      }
      baseCls.foreach { cls0 =>
        var cls = cls0
        var chain = List.empty[String]
        var it = segs
        var continue = true
        while (continue) it match {
          case FieldSeg(f) :: rest if catalog.linkOf(cls, f).isDefined =>
            val spec = catalog.linkOf(cls, f).get
            chain = chain :+ f.toLowerCase
            ensureChain(chain, spec)
            cls = catalog.get(spec.target)
            it = rest
            // no deeper joins past any to-many link (incl. key arrays)
            if (spec.multi || spec.srcIsArray) continue = false
          case _ => continue = false
        }
      }
    }

    private def ensureChain(chain: List[String], spec: LinkSpec): Unit = {
      if (chains.contains(chain)) return
      val prefix = s"__l_${chain.mkString("_")}__"
      val target = catalog.table(spec.target)
      val parentPrefix =
        if (chain.size == 1) "" else chains(chain.dropRight(1))._1
      val srcCol = col(parentPrefix + spec.srcKey)
      if (spec.srcIsArray) {
        // RID-collection link (LINKSET as array<key>): explode the key
        // array on a fresh scan of the source class, join targets,
        // re-aggregate per source row, then join back 1:1 by pk.
        val srcCls = if (chain.size == 1) baseCls.get
          else chains(chain.dropRight(1))._2
        val pk = srcCls.ridPosCol.getOrElse(throw Parser.ParseException(
          s"array link ${spec.field} requires a keyed class"))
        val cols = target.columns.filterNot(internalCol)
        val src = catalog.polymorphicScan(srcCls.name)
          .select(col(pk).as(s"${prefix}pk"),
            explode_outer(col(spec.srcKey)).as(s"${prefix}k"))
        val items = src
          .join(target, col(s"${prefix}k") === target(spec.dstKey))
          .groupBy(col(s"${prefix}pk"))
          .agg(collect_list(struct(cols.map(col): _*))
            .as(s"${prefix}items"))
        df = df.join(items,
          col(parentPrefix + pk) === col(s"${prefix}pk"), "left")
          .drop(s"${prefix}pk")
      } else if (spec.multi) {
        // LINKLIST: pre-aggregate the many side to one array per key —
        // partial aggregation happens map-side, the join stays 1:1.
        val cols = target.columns.filterNot(internalCol)
        val items = target.groupBy(col(spec.dstKey).as(s"${prefix}key"))
          .agg(collect_list(struct(cols.map(col): _*))
            .as(s"${prefix}items"))
        df = df.join(items, srcCol === col(s"${prefix}key"), "left")
          .drop(s"${prefix}key")
      } else {
        val renamed = target.select(
          target.columns.map(c => col(c).as(prefix + c)): _*)
        df = df.join(renamed, srcCol === col(prefix + spec.dstKey), "left")
      }
      chains(chain) =
        (prefix, catalog.get(spec.target), spec.multi || spec.srcIsArray)
    }

    /** Plans one top-level WHERE conjunct. A positive `link CONTAINS
      * (cond)` over a LINKLIST that nothing else in the statement reads,
      * and a TRAVERSE with one first hop and no `self` term, become
      * left-semi joins (true: the conjunct needs no filter); anything
      * else gets its joins and flags prepared (false). Exact for a
      * WHERE conjunct: the filter drops a null the same as a false. */
    def planConjunct(c: Cond): Boolean = c match {
      case ContainsCond(Path(FieldSeg(f) :: Nil), inner, false)
          if !chains.contains(List(f.toLowerCase)) && !readsOuterRow(inner) &&
            baseCls.flatMap(catalog.linkOf(_, f))
              .exists(l => l.multi && !l.srcIsArray) =>
        val spec = catalog.linkOf(baseCls.get, f).get
        val target = catalog.table(spec.target)
        // the inner condition sees each target row as the element
        // struct `exists` sees on the aggregated path
        val cols = target.columns.filterNot(internalCol).toSeq
        val hit = compileCond(inner,
          new ElementScope(struct(cols.map(col): _*), Some(cols)))
        semiJoin(spec.srcKey, target.filter(hit).select(col(spec.dstKey)))
        true
      case tc: TraverseCond => prepareTraverse(tc, topLevel = true)
      case other => prepareCond(other); false
    }

    private var semiCount = 0
    /** keep the base rows whose `srcKey` is among `keys`' first column;
      * duplicate keys are harmless, so no distinct */
    private def semiJoin(srcKey: String, keys: DataFrame): Unit = {
      val k = s"__semi_$semiCount"
      semiCount += 1
      df = df.join(keys.select(col(keys.columns.head).as(k)),
        col(srcKey) === col(k), "left_semi")
    }

    /** @return true when `topLevel` and the traversal became a semi-join
      *         (no flag column is set) */
    private def prepareTraverse(tc: TraverseCond,
        topLevel: Boolean = false): Boolean = {
      val cls = baseCls.getOrElse(throw Parser.ParseException(
        "TRAVERSE requires a class target"))
      val key = cls.ridPosCol.getOrElse(throw Parser.ParseException(
        s"TRAVERSE requires a keyed class, ${cls.name} has none"))
      val flag = s"__trav_$travCount"
      travCount += 1
      /** left-join the distinct key set onto the base rows as a flag */
      def flagBy(srcKey: String, keys: DataFrame, name: String): Column = {
        df = df.join(keys.select(col(keys.columns.head).as(s"${name}_k"))
            .distinct().withColumn(name, lit(true)),
          col(srcKey) === col(s"${name}_k"), "left")
          .drop(s"${name}_k")
        coalesce(col(name), lit(false))
      }
      Traverse.reach(catalog, cls, tc, compileCondLenient) match {
        case Some(Traverse.Reach(false, Seq((l, keys)))) if topLevel =>
          semiJoin(l.srcKey, keys)
          true
        case Some(r) =>
          // one left join per first-hop link, on the link's srcKey
          val self =
            if (r.self) Seq(coalesce(compileCondLenient(df, cls, tc.inner), lit(false)))
            else Nil
          val hops = r.firstHops.zipWithIndex.map { case ((l, keys), i) =>
            flagBy(l.srcKey, keys, s"${flag}_$i")
          }
          travFlags(tc) = (self ++ hops).reduceOption(_ || _).getOrElse(lit(false))
          false
        case None =>
          travFlags(tc) = flagBy(key, Traverse.matchedOrigins(
            catalog, cls, tc, maxTraverseDepth, compileCondLenient), flag)
          false
      }
    }

    val travFlags = scala.collection.mutable.Map[TraverseCond, Column]()

    def scope: Scope = new Scope {
      val planner = JoinPlanner.this
      def baseClass: Option[ClassDef] = baseCls
      def baseColumns: Seq[String] = baseCols.filterNot(internal)
      def chainInfo(chain: List[String]): Option[(String, ClassDef, Boolean)] =
        chains.get(chain)
      def traverseFlag(tc: TraverseCond): Column = travFlags(tc)
      def resolveField(name: String): Option[Column] =
        baseCols.find(_.equalsIgnoreCase(name)).map(col)
      def schemaOf(name: String): Option[DataType] =
        base.schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
    }

    private def internal(c: String): Boolean = internalCol(c)
  }

  private def internalCol(c: String): Boolean =
    c.startsWith("__l_") || c.startsWith("__trav_") ||
      c == "_rid" || c == "_class" || c == "_version" || c == "_extra"

  /** true when a CONTAINS inner condition compiles to columns of the
    * outer row rather than of the element: record attributes, `any()`,
    * `all()` and `column(n)` read the row the `exists` lambda runs on */
  private def readsOuterRow(c: Cond): Boolean = {
    def expr(e: SqlExpr): Boolean = e match {
      case Path(segs) => segs.exists {
        case AttrSeg(_) => true
        case MethodSeg(m, args) =>
          m == "any" || m == "all" || m == "column" || args.exists(expr)
        case _ => false
      }
      case ListLit(items) => items.exists(expr)
      case _ => false
    }
    c match {
      case And(l, r) => readsOuterRow(l) || readsOuterRow(r)
      case Or(l, r) => readsOuterRow(l) || readsOuterRow(r)
      case Not(i) => readsOuterRow(i)
      case Cmp(l, _, r) => expr(l) || expr(r)
      case IsNull(e, _) => expr(e)
      case BareBool(e) => expr(e)
      case ContainsCond(p, inner, _) => expr(p) || readsOuterRow(inner)
      case _: TraverseCond => true
    }
  }

  // ========================================================== scopes
  /** name resolution context for expression compilation */
  trait Scope {
    def baseClass: Option[ClassDef]
    def baseColumns: Seq[String]
    def chainInfo(chain: List[String]): Option[(String, ClassDef, Boolean)]
    def traverseFlag(tc: TraverseCond): Column
    def resolveField(name: String): Option[Column]
    def schemaOf(name: String): Option[DataType]
    /** lenient scopes resolve unknown fields to null (reference:
      * missing field → null → condition false) instead of erroring */
    def lenient: Boolean = false
  }

  /** scope for lambda elements (CONTAINS inner conditions): fields
    * resolve against the array element struct; when the element's
    * field names are known, unknown fields resolve to null (reference:
    * missing field evaluates null → condition false). */
  private final class ElementScope(elem: Column,
      elemFields: Option[Seq[String]]) extends Scope {
    def baseClass: Option[ClassDef] = None
    def baseColumns: Seq[String] = elemFields.getOrElse(Nil)
    def chainInfo(chain: List[String]): Option[(String, ClassDef, Boolean)] = None
    def traverseFlag(tc: TraverseCond): Column =
      throw Parser.ParseException("TRAVERSE not allowed inside CONTAINS")
    def resolveField(name: String): Option[Column] = elemFields match {
      case Some(fs) =>
        if (fs.exists(_.equalsIgnoreCase(name))) Some(elem.getField(name))
        else None
      case None => Some(elem.getField(name))
    }
    def schemaOf(name: String): Option[DataType] = None
    override def lenient: Boolean = elemFields.isDefined
  }

  /** lenient scope over a plain class table: unresolved fields → null */
  def compileCondLenient(df: DataFrame, cls: ClassDef, c: Cond): Column = {
    val sc = new Scope {
      def baseClass: Option[ClassDef] = Some(cls)
      def baseColumns: Seq[String] = df.columns.filterNot(internalCol).toSeq
      def chainInfo(chain: List[String]): Option[(String, ClassDef, Boolean)] = None
      def traverseFlag(tc: TraverseCond): Column =
        throw Parser.ParseException("nested TRAVERSE unsupported")
      def resolveField(name: String): Option[Column] =
        df.columns.find(_.equalsIgnoreCase(name)).map(col)
      def schemaOf(name: String): Option[DataType] =
        df.schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
      override def lenient: Boolean = true
    }
    compileCond(c, sc)
  }

  // ==================================================== projections
  private def applyProjections(df0: DataFrame, projections: Seq[Projection],
      scope: Scope): DataFrame = {
    var df = df0
    if (projections.isEmpty) {
      // SELECT * — the record's own fields, metadata columns dropped
      // (projection rows are anonymous, SURVEY.md §2.2)
      return df.select(scope.baseColumns.map(col): _*)
    }
    val flat = projections.filter(_.flatten)
    if (flat.nonEmpty) {
      // FLATTEN(f) replaces the whole result with the unnested field
      // (OCommandExecutorSQLSelect.applyFlatten:518-536) = explode()
      val p = flat.head
      val c = compileExpr(p.expr, scope)
      val exploded = df.select(explode(c).as(p.alias.getOrElse("value")))
      val elemT = exploded.schema.fields.head.dataType
      return elemT match {
        case _: StructType => exploded.select(col(p.alias.getOrElse("value") + ".*"))
        case _ => exploded
      }
    }
    // aggregate projection: every item an aggregate function call →
    // single-row result (the reference's context-accumulator functions)
    val isAgg = projections.forall {
      case Projection(Path(MethodSeg(n, _) :: Nil), _, _) =>
        BuiltinFunctions.aggregateNames.contains(n)
      case _ => false
    }
    val named = nameProjections(projections, scope)
    if (isAgg) {
      val cols = named.map { case (p, n) => compileExpr(p.expr, scope).as(n) }
      df.agg(cols.head, cols.tail: _*)
    } else {
      df.select(named.map { case (p, n) =>
        compileExpr(p.expr, scope).as(n) }: _*)
    }
  }

  /** derive output names; duplicates auto-suffixed `name2`, `name3`…
    * (reference `extractProjections:476`: second occurrence → `name2`) */
  private def nameProjections(ps: Seq[Projection],
      scope: Scope): Seq[(Projection, String)] = {
    val seen = scala.collection.mutable.Map[String, Int]()
    ps.map { p =>
      val base = p.alias.getOrElse(deriveName(p.expr))
      val n = seen.getOrElse(base.toLowerCase, 0) + 1
      seen(base.toLowerCase) = n
      (p, if (n == 1) base else s"$base$n")
    }
  }

  private def deriveName(e: SqlExpr): String = e match {
    case Path(segs) =>
      segs.reverse.collectFirst {
        case FieldSeg(f) => f
        case AttrSeg(a) => a
        case MethodSeg(m, _) if !chainOps.contains(m) => m
      }.getOrElse("value")
    case _ => "value"
  }

  // ================================================== expressions
  def compileExpr(e: SqlExpr, scope: Scope): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case RidLit(c, p) =>
      struct(lit(c).as("clusterId"), lit(p).as("pos"))
    case ListLit(items) => array(items.map(compileExpr(_, scope)): _*)
    case Path(segs) => compilePath(segs, scope)
  }

  private val chainOps = Set("field", "size", "length", "touppercase",
    "tolowercase", "trim", "left", "right", "substring", "charat",
    "indexof", "format", "append", "prefix", "asstring", "asinteger",
    "asfloat", "asboolean", "asdate", "asdatetime")

  private def compilePath(segs: List[Seg], scope: Scope): Column = {
    segs match {
      case AttrSeg(a) :: rest =>
        applyChain(attrColumn(a, scope), rest, scope)
      case MethodSeg("column", Seq(Lit(n: Long))) :: rest =>
        // positional column access for column-records (§2.3 column(n));
        // out-of-range positions are query errors, not array crashes
        if (n < 0 || n >= scope.baseColumns.size)
          throw Parser.ParseException(
            s"column($n) out of range 0..${scope.baseColumns.size - 1}")
        applyChain(col(scope.baseColumns(n.toInt)), rest, scope)
      case MethodSeg(fn, args) :: rest if registry.contains(fn) =>
        val f = registry.lookup(fn).get
        applyChain(f(args.map(compileExpr(_, scope))), rest, scope)
      case MethodSeg(fn, _) :: _ =>
        throw Parser.ParseException(s"unknown function '$fn'")
      case (_: FieldSeg) :: _ =>
        val (c, rest) = resolveFieldPath(segs, scope)
        applyChain(c, rest, scope)
      case Nil => throw Parser.ParseException("empty path")
    }
  }

  /** resolve leading FieldSegs (link chains + terminal field / struct
    * access), return the value column and the remaining method segs. */
  private def resolveFieldPath(segs: List[Seg],
      scope: Scope): (Column, List[Seg]) = {
    var cls = scope.baseClass
    var chain = List.empty[String]
    var it = segs
    // follow declared links while they match
    var continue = true
    while (continue) it match {
      case FieldSeg(f) :: rest
          if cls.exists(c => catalog.linkOf(c, f).isDefined) &&
            scope.chainInfo(chain :+ f.toLowerCase).isDefined =>
        chain = chain :+ f.toLowerCase
        val (_, target, multi) = scope.chainInfo(chain).get
        cls = Some(target)
        it = rest
        if (multi) continue = false
      case _ => continue = false
    }
    if (chain.isEmpty) {
      // plain field (+ optional struct sub-fields)
      it match {
        case FieldSeg(f) :: rest =>
          scope.resolveField(f) match {
            case Some(c0) =>
              var c = c0
              var r = rest
              var go = true
              while (go) r match {
                case FieldSeg(sub) :: t => c = c.getField(sub); r = t
                case MethodSeg("field", Seq(Lit(s: String))) :: t =>
                  c = c.getField(s); r = t
                case _ => go = false
              }
              (c, r)
            case None if scope.resolveField("_extra").isDefined =>
              // schema-less overflow: per-record ad-hoc fields live in
              // the _extra map (string-valued); absent key → null,
              // matching the reference's missing-field semantics.
              // Trailing field hops are swallowed (string values have
              // no sub-fields; a getField would fail analysis)
              val r = rest.dropWhile {
                case FieldSeg(_) => true
                case MethodSeg("field", _) => true
                case _ => false
              }
              (element_at(scope.resolveField("_extra").get,
                lit(f.toLowerCase)), r)
            case None if scope.lenient =>
              // unknown field → null; swallow any further field hops
              // (getField on a null literal would fail analysis)
              val r = rest.dropWhile {
                case FieldSeg(_) => true
                case MethodSeg("field", _) => true
                case _ => false
              }
              (lit(null).cast(StringType), r)
            case None =>
              throw Parser.ParseException(s"unknown field '$f'")
          }
        case _ => throw Parser.ParseException(s"bad path $segs")
      }
    } else {
      val (prefix, target, multi) = scope.chainInfo(chain).get
      if (multi) {
        val items = col(s"${prefix}items")
        it match {
          case Nil => (items, Nil)
          case FieldSeg(f) :: rest =>
            // project one field out of each element of the LINKLIST
            (transform(items, x => x.getField(f)), rest)
          case rest => (items, rest)
        }
      } else {
        it match {
          case FieldSeg(f) :: rest => (col(prefix + f), rest)
          case MethodSeg("field", Seq(Lit(s: String))) :: rest =>
            (col(prefix + s), rest)
          case rest =>
            // terminal link (or chain method on it) → the target row as
            // a struct over its prefix-renamed columns
            val cols = catalog.table(target.name).columns
              .filterNot(internalCol)
            (struct(cols.map(f => col(prefix + f).as(f)): _*), rest)
        }
      }
    }
  }

  /** record attributes @rid @class @version @size @type @fields
    * (`OSQLFilterItemRecordAttrib.java:25-61`) */
  private def attrColumn(a: String, scope: Scope): Column = a match {
    case "rid" => col("_rid")
    case "class" => col("_class")
    case "version" =>
      // per-record DML touch count (Commands.update bumps `_version`);
      // records never touched (incl. source-table rows) read as 0
      scope.resolveField("_version")
        .map(c => coalesce(c.cast(IntegerType), lit(0)))
        .getOrElse(lit(0))
    case "size" =>
      // serialized-size approximation (documented deviation: JSON size,
      // not the reference's CSV codec size — SURVEY.md §2.3)
      length(to_json(struct(scope.baseColumns.map(col): _*)))
    case "type" => lit("document")
    case "fields" => array(scope.baseColumns.map(lit): _*)
    case other => throw Parser.ParseException(s"unknown attribute @$other")
  }

  /** field-method chains (§2.4), mapped 1:1 from
    * `OSQLFilterItemAbstract.transformValue:120-249`. */
  private def applyChain(c0: Column, segs: List[Seg], scope: Scope): Column = {
    var c = c0
    segs.foreach {
      case MethodSeg(op, args) =>
        // missing args and non-numeric numeric-args are QUERY errors
        // (ParseException), never IndexOutOfBounds/NumberFormat crashes
        def arg(i: Int): SqlExpr =
          if (i < args.size) args(i)
          else throw Parser.ParseException(
            s"$op() needs at least ${i + 1} argument(s)")
        def argStr(i: Int): String = arg(i) match {
          case Lit(s: String) => s
          case Lit(v) => String.valueOf(v)
          case other => throw Parser.ParseException(s"bad arg $other for $op")
        }
        def argInt(i: Int): Int = arg(i) match {
          case Lit(v: Long) => v.toInt
          case Lit(s: String) => s.toIntOption.getOrElse(
            throw Parser.ParseException(
              s"$op() needs an integer argument, got '$s'"))
          case other => throw Parser.ParseException(s"bad arg $other for $op")
        }
        c = op match {
          // null collection → 0, reference transformValue:130 (explicit
          // null test: legacy sizeOfNull yields -1, not null, w/o ANSI)
          case "size" => when(c.isNull, 0).otherwise(size(c))
          case "length" => length(c.cast(StringType))
          case "touppercase" => upper(c.cast(StringType))
          case "tolowercase" => lower(c.cast(StringType))
          case "trim" => trim(c.cast(StringType))
          case "left" => substring(c.cast(StringType), 1, argInt(0))
          case "right" =>
            // suffix from offset, clamped to len-1 (transformValue:201-203)
            val s = c.cast(StringType)
            s.substr(least(lit(argInt(0)), length(s) - 1) + 1,
              length(s))
          case "substring" =>
            val b = argInt(0)
            if (args.size > 1)
              substring(c.cast(StringType), b + 1, argInt(1) - b)
            else c.cast(StringType).substr(lit(b + 1), length(c))
          case "charat" => substring(c.cast(StringType), argInt(0) + 1, 1)
          case "indexof" =>
            val from = if (args.size > 1) argInt(1) else 0
            locate(argStr(0), c.cast(StringType), from + 1) - 1
          case "format" => format_string(argStr(0), c)
          case "append" => concat(c.cast(StringType), lit(argStr(0)))
          case "prefix" => concat(lit(argStr(0)), c.cast(StringType))
          case "asstring" => c.cast(StringType)
          case "asinteger" => c.cast(LongType)
          case "asfloat" => c.cast(DoubleType)
          case "asboolean" => c.cast(BooleanType)
          case "asdate" | "asdatetime" =>
            coalesce(to_timestamp(c), to_timestamp(c, "yyyy-MM-dd"))
          case "field" => c.getField(argStr(0))
          case other =>
            throw Parser.ParseException(s"unknown chain op '$other'")
        }
      case FieldSeg(f) => c = c.getField(f)
      case AttrSeg(a) =>
        throw Parser.ParseException(s"@$a only allowed at path head")
    }
    c
  }

  // ==================================================== conditions
  def compileCond(c: Cond, scope: Scope): Column = c match {
    case And(l, r) => compileCond(l, scope) && compileCond(r, scope)
    case Or(l, r) => compileCond(l, scope) || compileCond(r, scope)
    case Not(i) => !compileCond(i, scope)
    case IsNull(e, negated) =>
      val col = compileExpr(e, scope)
      if (negated) col.isNotNull else col.isNull
    case tc: TraverseCond => scope.traverseFlag(tc)
    case BareBool(e) => compileExpr(e, scope) === lit(true)
    case ContainsCond(p, inner, all) =>
      val arr = compileExpr(p, scope)
      // element field names when derivable: multi-link targets come
      // from the catalog, embedded struct arrays from the base schema
      val elemFields: Option[Seq[String]] = p.segs match {
        case FieldSeg(f) :: Nil =>
          scope.baseClass.flatMap(c => catalog.linkOf(c, f)) match {
            case Some(spec) =>
              Some(catalog.table(spec.target).columns
                .filterNot(internalCol).toSeq)
            case None => scope.schemaOf(f) match {
              case Some(ArrayType(st: StructType, _)) =>
                Some(st.fieldNames.toSeq)
              case _ => None
            }
          }
        case _ => None
      }
      if (all) forall(arr, x => compileCond(inner, new ElementScope(x, elemFields)))
      else exists(arr, x => compileCond(inner, new ElementScope(x, elemFields)))
    case Cmp(l, op, r) => compileCmp(l, op, r, scope)
  }

  private def compileCmp(l: SqlExpr, op: String, r: SqlExpr,
      scope: Scope): Column = {
    // any()/all() pseudo-fields: predicate across all record fields,
    // ∃ / ∀ (`OSQLFilterItemFieldAny/All`, SURVEY.md §2.3). Values are
    // compared via their string form, matching the reference's
    // toString-based multi-value compare.
    l match {
      case Path(MethodSeg("any", _) :: chain) =>
        return scope.baseColumns
          .map(f => cmpColumns(
            applyChain(col(f).cast(StringType), chain, scope), op,
            compileExpr(r, scope).cast(StringType), r))
          .reduce(_ || _)
      case Path(MethodSeg("all", _) :: chain) =>
        return scope.baseColumns
          .map(f => cmpColumns(
            applyChain(col(f).cast(StringType), chain, scope), op,
            compileExpr(r, scope).cast(StringType), r))
          .reduce(_ && _)
      case _ => ()
    }
    val lc = compileExpr(l, scope)
    val rc = compileExpr(r, scope)
    cmpColumns(lc, op, rc, r)
  }

  private def cmpColumns(lc: Column, op: String, rc: Column,
      rExpr: SqlExpr): Column = op match {
    case "=" => lc === rc
    case "<>" => lc =!= rc
    case ">" => lc > rc
    case ">=" => lc >= rc
    case "<" => lc < rc
    case "<=" => lc <= rc
    case "like" =>
      // reference LIKE knows only `%`; `_` is a literal char
      // (OQueryHelper.java:20-57) → escape it for Spark
      rExpr match {
        case Lit(s: String) => lc.like(s.replace("_", "\\_"))
        case other => throw Parser.ParseException(
          s"LIKE requires a string literal pattern, got $other")
      }
    case "matches" =>
      // String.matches = whole-string anchor (OQueryOperatorMatches)
      rExpr match {
        case Lit(s: String) => lc.rlike("\\A(?:" + s + ")\\z")
        case other => throw Parser.ParseException(
          s"MATCHES requires a string literal pattern, got $other")
      }
    case "in" =>
      rExpr match {
        case ListLit(items) if items.forall(_.isInstanceOf[Lit]) =>
          lc.isin(items.collect { case Lit(v) => v }: _*)
        case ListLit(_) => array_contains(rc, lc) // e.g. RID-list items
        case _ => array_contains(rc, lc) // value IN collectionField
      }
    case "contains" =>
      rExpr match {
        // `contains ('a','b')` = all listed values present (superset)
        case ListLit(_) => forall(rc, x => array_contains(lc, x))
        case _ => array_contains(lc, rc)
      }
    case "containsall" =>
      rExpr match {
        case ListLit(_) => forall(rc, x => array_contains(lc, x))
        case _ => array_contains(lc, rc)
      }
    case "containskey" => map_contains_key(lc, rc)
    case "containsvalue" => array_contains(map_values(lc), rc)
    case "containstext" => FullText.containsText(lc, rc)
    case other => throw Parser.ParseException(s"unknown operator '$other'")
  }
}
