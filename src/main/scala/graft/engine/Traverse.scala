package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, Or}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** Distributed TRAVERSE (`OQueryOperatorTraverse.java:40-176`): true for
  * a record when some document reachable over link fields within depth
  * `[start, end]` satisfies the inner condition; cycle-safe via a
  * visited set; `end = -1` = unbounded.
  *
  * Two plans, picked per condition:
  *  - [[reach]]: bounded traversals with `start <= 1` and `end <= 3`
  *    compile to REVERSE reachability over key sets — the keys of each
  *    class that satisfy the condition, walked backwards over the links
  *    one semi-join per hop. Relations stay as small as the key sets;
  *    no `(origin, node)` pair is ever built.
  *  - [[matchedOrigins]]: everything else (`start >= 2`, deep or
  *    unbounded traversals, and the cases [[reach]] declines) runs a
  *    forward BFS whose frontier is a DataFrame of `(origin, node)` id
  *    pairs per class — each expansion round is one distributed join,
  *    so a 100 TB graph never funnels through the driver; the driver
  *    only runs the (bounded) loop.
  *
  * Depth semantics (documented deviation from the reference's
  * collection-vs-single-link level quirk): the record itself is depth
  * 0; following any link costs 1. `fields` (when given) restricts which
  * link fields are followed at every level; a non-`any()` left field
  * restricts only the first hop. Nodes are identified by (class, key).
  */
object Traverse {

  /** Test/measurement switch: both plans fall back to the per-round
    * checkpointed BFS, the reference the other plans are checked
    * against (`TraverseSpec`). Never set in production paths. */
  private def forceBfs: Boolean =
    System.getProperty("graft.traverse.forceBfs") != null

  /** Links followed from a node of `cls` at `depth`, after validating
    * the links the statement names explicitly. */
  private def hopLinks(catalog: Catalog, baseCls: ClassDef,
      tc: Ast.TraverseCond): (ClassDef, Int) => Seq[LinkSpec] = {
    val fieldFilter: Option[Set[String]] =
      if (tc.fields.nonEmpty)
        Some(tc.fields.map(_.toLowerCase).toSet.filterNot(_ == "any()"))
          .filter(_.nonEmpty)
      else None
    val firstHop: Option[String] = tc.left.segs match {
      case Ast.FieldSeg(f) :: Nil => Some(f.toLowerCase)
      case _ => None // any() / all() → all links
    }

    // reject EXPLICITLY-requested links whose target cannot be keyed —
    // silently skipping them would return wrong (empty) results; links
    // dropped implicitly under any() are a documented limitation
    val explicit = fieldFilter.getOrElse(Set()) ++ firstHop.toSet
    baseCls.links.filter(l => explicit.contains(l.field.toLowerCase))
      .foreach { l =>
        if (catalog.get(l.target).ridPosCol.isEmpty)
          throw new IllegalArgumentException(
            s"TRAVERSE cannot follow link '${l.field}': target class " +
              s"'${l.target}' has no key column")
      }

    (cls, depth) => {
      val all = cls.links.filter(l => catalog.get(l.target).ridPosCol.isDefined)
      val byFields = fieldFilter match {
        case Some(fs) => all.filter(l => fs.contains(l.field.toLowerCase))
        case None => all
      }
      if (depth == 0) firstHop match {
        case Some(f) => byFields.filter(_.field.toLowerCase == f)
        case None => byFields
      } else byFields
    }
  }

  /** A bounded traversal as reverse reachability: a base row matches
    * when `self` holds and the inner condition is true on the row
    * itself (`start = 0`), or when, for one of the first-hop links, its
    * `srcKey` value is among that link's dst-key values (a key may
    * repeat). Each row is flagged by its own link values, where the BFS
    * pools those of all base rows sharing a key: the same answer while
    * keys are unique within the class. */
  final case class Reach(self: Boolean, firstHops: Seq[(LinkSpec, DataFrame)])

  /** The [[Reach]] plan, or None when only the BFS is exact.
    *
    * With `start <= 1` the BFS's visited set only decides the depth at
    * which a node is first seen, so "some hit within `end` hops" gives
    * the same answer — provided (a) no origin can be its own hit
    * (`start = 1`: the condition is dead on the base class and its
    * superclasses) and (b) a walk that comes back to its origin cannot
    * then leave it over a link the first hop excludes (the BFS never
    * re-expands the origin). RID-collection first hops, whose
    * membership test needs the array exploded per base row, also stay
    * on the BFS.
    *
    * A class is dead when its compiled condition folds to null or false
    * on its polymorphic scan — decided from the analyzed plan, no job.
    * Dead classes and links that cannot reach a live class within the
    * remaining depth are never built. */
  def reach(
      catalog: Catalog,
      baseCls: ClassDef,
      tc: Ast.TraverseCond,
      compileCond: (DataFrame, ClassDef, Ast.Cond) => Column): Option[Reach] = {
    val links = hopLinks(catalog, baseCls, tc)
    val end = tc.end
    if (forceBfs || tc.start > 1 || end < tc.start || end > 3) return None

    val deadMemo = scala.collection.mutable.Map[String, Boolean]()
    def dead(cn: String): Boolean = deadMemo.getOrElseUpdate(cn.toLowerCase, {
      val t = catalog.polymorphicScan(cn)
      t.filter(compileCond(t, catalog.get(cn), tc.inner))
        .queryExecution.analyzed match {
          case f: Filter => neverTrue(f.condition)
          case _ => false
        }
    })
    // (a)
    if (tc.start == 1 &&
        catalog.superChain(baseCls.name).exists(c => !dead(c.name)))
      return None

    val firstHops = if (end == 0) Nil else links(baseCls, 0)
    if (firstHops.toSet != links(baseCls, 1).toSet) {
      // (b): the first hop is restricted; decline when the base class
      // is among the classes expanded at depths 1 .. end-1
      var layer = firstHops.map(_.target.toLowerCase).toSet
      var expanded = Set.empty[String]
      (1 until end).foreach { d =>
        expanded ++= layer
        layer = layer.flatMap(cn => links(catalog.get(cn), d))
          .map(_.target.toLowerCase)
      }
      if (expanded.contains(baseCls.name.toLowerCase)) return None
    }

    val reachMemo = scala.collection.mutable.Map[(String, Int), Boolean]()
    def canReach(cn: String, j: Int): Boolean =
      reachMemo.getOrElseUpdate((cn.toLowerCase, j), !dead(cn) ||
        (j > 0 && links(catalog.get(cn), 1).exists(l => canReach(l.target, j - 1))))
    val used = firstHops.filter(l => canReach(l.target, end - 1))
    if (used.exists(_.srcIsArray)) return None

    def key(cls: ClassDef): String = cls.ridPosCol.get

    // Key sets feed semi-joins, which ignore duplicates; none is made
    // distinct here — the translator does that only where it left-joins
    // a first-hop set onto base rows as a flag.

    /** `__key`s of `cn` with a hit within `j` hops */
    def within(cn: String, j: Int): DataFrame = {
      val cls = catalog.get(cn)
      val own =
        if (dead(cn)) None
        else {
          val t = catalog.polymorphicScan(cn)
          Some(t.filter(compileCond(t, cls, tc.inner))
            .select(col(key(cls)).as("__key")))
        }
      val back =
        if (j == 0) Nil
        else links(cls, 1).filter(l => canReach(l.target, j - 1))
          .map(l => sources(cls, l, dstKeys(l, within(l.target, j - 1))))
      (own.toSeq ++ back).reduce(_ unionByName _)
    }

    /** `dstKey` values (as `__key`) of the target rows in `keys`; the
      * keys themselves when the link lands on the target's key */
    def dstKeys(l: LinkSpec, keys: DataFrame): DataFrame = {
      val target = catalog.get(l.target)
      if (l.dstKey.equalsIgnoreCase(key(target))) keys
      else catalog.polymorphicScan(l.target)
        .select(col(key(target)).as("__tk"), col(l.dstKey).as("__dk"))
        .join(keys, col("__tk") === col("__key"), "left_semi")
        .select(col("__dk").as("__key"))
    }

    /** keys of `cls` rows whose `l` link lands on one of `dst` — one
      * semi-join; RID-collection links test each array element */
    def sources(cls: ClassDef, l: LinkSpec, dst: DataFrame): DataFrame = {
      val sk = if (l.srcIsArray) explode(col(l.srcKey)) else col(l.srcKey)
      catalog.polymorphicScan(cls.name)
        .select(col(key(cls)).as("__src"), sk.as("__sk"))
        .join(dst, col("__sk") === col("__key"), "left_semi")
        .select(col("__src").as("__key"))
    }

    Some(Reach(tc.start == 0,
      used.map(l => l -> dstKeys(l, within(l.target, end - 1)))))
  }

  /** true when `e` can never evaluate to true: a foldable null/false,
    * or a conjunction/disjunction that is one by three-valued logic */
  private def neverTrue(e: Expression): Boolean = e match {
    case And(l, r) => neverTrue(l) || neverTrue(r)
    case Or(l, r) => neverTrue(l) && neverTrue(r)
    case _ if e.foldable =>
      try {
        val v = e.eval()
        v == null || v == false
      } catch { case scala.util.control.NonFatal(_) => false }
    case _ => false
  }

  /** @return single-column DataFrame `__origin`: keys of base-class
    *         rows whose traversal matched, a key possibly repeated. */
  def matchedOrigins(
      catalog: Catalog,
      baseCls: ClassDef,
      tc: Ast.TraverseCond,
      maxDepth: Int,
      compileCond: (DataFrame, ClassDef, Ast.Cond) => Column): DataFrame = {

    val key0 = baseCls.ridPosCol.get
    val links = hopLinks(catalog, baseCls, tc)

    // unbounded (-1) runs to the visited-set fixpoint like the
    // reference (`OQueryOperatorTraverse.java:40-176` recurses until no
    // unvisited neighbor remains) — the frontier-empty check below is
    // the real terminator. `maxDepth` is only a runaway-loop safety
    // valve: exceeding it raises instead of silently truncating the
    // reachable set (a >cap-diameter graph must never return a proper
    // subset that looks complete).
    val unbounded = tc.end < 0
    val end = if (unbounded) Int.MaxValue else tc.end

    // BOUNDED shallow traversals that [[reach]] declines (`start >= 2`,
    // a live base class, RID-collection first hops) compile to one
    // STATIC lazy plan: no per-round materialization,
    // no frontier-emptiness probe jobs — a handful of joins Catalyst
    // optimizes as a whole (exchange reuse dedups the repeated scans).
    // Deep/unbounded traversals keep the checkpointed BFS below, whose
    // per-round lineage truncation is what survives 10+ rounds.
    val static = end <= 3 && !forceBfs

    // per-class frontier/visited of (__origin, __node) pairs
    var frontier: Map[String, DataFrame] = {
      // polymorphic: subclass rows participate in traversal
      val t = catalog.polymorphicScan(baseCls.name)
      // checkpoint breaks lineage: frontiers re-join the class tables
      // every round, which Spark otherwise flags as ambiguous self-joins
      // (each loop round re-scans fresh, so the static path is safe)
      val f0 = t.select(col(key0).as("__origin"), col(key0).as("__node"))
      Map(baseCls.name.toLowerCase ->
        (if (static) f0 else f0.localCheckpoint(true)))
    }
    var visited: Map[String, DataFrame] = frontier
    val matchedParts = scala.collection.mutable.ListBuffer[DataFrame]()

    var depth = 0
    while (depth <= end && frontier.nonEmpty) {
      if (unbounded && depth > maxDepth)
        throw new IllegalStateException(
          s"unbounded TRAVERSE exceeded $maxDepth rounds with a " +
            "non-empty frontier — raise Translator.maxTraverseDepth " +
            "if the graph really is this deep")
      if (depth >= tc.start) {
        frontier.foreach { case (cn, fdf) =>
          val cls = catalog.get(cn)
          val t = catalog.polymorphicScan(cn)
          val cond = compileCond(t, cls, tc.inner)
          val hit = t.filter(cond)
            .select(col(cls.ridPosCol.get).as("__node2"))
          matchedParts += fdf.join(hit, fdf("__node") === col("__node2"))
            .select(col("__origin"))
        }
      }
      if (depth < end) {
        val next = scala.collection.mutable.Map[String, DataFrame]()
        frontier.foreach { case (cn, fdf) =>
          val cls = catalog.get(cn)
          val t = catalog.polymorphicScan(cn)
          links(cls, depth).foreach { l =>
            val target = catalog.get(l.target)
            val tt = catalog.polymorphicScan(l.target)
            // node → neighbor key via the FK edge (one distributed join;
            // the visited-minus keeps the frontier monotone shrinking);
            // RID-collection links explode their key array first
            val src =
              if (l.srcIsArray)
                t.select(col(cls.ridPosCol.get).as("__node2"),
                  explode(col(l.srcKey)).as("__sk"))
              else
                t.select(col(cls.ridPosCol.get).as("__node2"),
                  col(l.srcKey).as("__sk"))
            val edges = src
              .join(tt.select(col(l.dstKey).as("__dk"),
                col(target.ridPosCol.get).as("__tk")),
                col("__sk") === col("__dk"))
              .select(col("__node2"), col("__tk"))
            val stepped = fdf.join(edges, fdf("__node") === col("__node2"))
              .select(col("__origin"), col("__tk").as("__node"))
              .distinct()
            val tn = l.target.toLowerCase
            next(tn) = next.get(tn) match {
              case Some(d) => d.unionByName(stepped).distinct()
              case None => stepped
            }
          }
        }
        // subtract visited (cycle safety), update visited
        frontier = next.toMap.flatMap { case (cn, d) =>
          val unseen = visited.get(cn) match {
            case Some(v) =>
              // explicit aliases: frontier and visited can share
              // lineage, and `d("__origin") === v("__origin")` then
              // resolves both sides to one attribute (Spark warns
              // "trivially true equals predicate" and, worse, would
              // anti-join everything away)
              d.alias("__f").join(v.alias("__v"),
                col("__f.__origin") === col("__v.__origin") &&
                  col("__f.__node") === col("__v.__node"),
                "left_anti")
            case None => d
          }
          if (static) Some(cn -> unseen) // lazy: empties cost nothing
          else {
            // truncate lineage per round — iterative joins otherwise
            // grow the plan exponentially (same role as GraphX's
            // checkpointing); the emptiness probe prunes dead classes
            val mat = unseen.localCheckpoint(true)
            if (mat.isEmpty) None else Some(cn -> mat)
          }
        }
        visited = (visited.keySet ++ frontier.keySet).map { cn =>
          (visited.get(cn), frontier.get(cn)) match {
            case (Some(v), Some(f)) => cn -> v.unionByName(f)
            case (Some(v), None) => cn -> v
            case (None, Some(f)) => cn -> f
            case (None, None) => cn -> frontier(cn) // unreachable
          }
        }.toMap
      }
      depth += 1
    }

    if (matchedParts.isEmpty)
      // empty result with the right schema
      catalog.table(baseCls.name).select(col(key0).as("__origin")).limit(0)
    else matchedParts.reduce(_ unionByName _)
  }
}
