package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Class registry (SURVEY.md §1.1: OClass → table, single inheritance,
  * polymorphic scans; LINK fields → FK joins).
  *
  * Reference model: `OClass.java:34-46` (superClass, polymorphicClusterIds),
  * `OProperty` LINK types (`OType.java:64-71`). Our links are declared
  * FK relationships: `field` on `cls` navigates to rows of `target`
  * where `cls.srcKey == target.dstKey`. `multi=false` is a LINK
  * (at most one target row), `multi=true` a LINKLIST/LINKSET
  * (one-to-many — navigation explodes).
  *
  * Scale note: each class is backed by a provider function so a
  * deployment can point it at a partitioned/bucketed parquet or Delta
  * root; nothing here assumes single files or collects to the driver.
  *
  * Versions: a class's current [[ClassDef]] instance IS its data
  * version. Every data write, DDL change, `setRidPosCol`, commit and
  * rollback installs a new (or restored) instance, and the catalog
  * keeps the analysed plans of the current instance only ([[table]]).
  * Reads get a re-instanced copy, so a read runs no provider, lists
  * no files, analyses nothing and launches no job. As in Couchbase
  * Analytics (PAPERS.md), writes land in a cheap in-memory component
  * and reads see an immutable, already-prepared image:
  *  - UPDATE/DELETE materialise the class's next version with one
  *    eager `localCheckpoint` ([[materialise]]);
  *  - INSERT rows go to a driver-side delta that reads union with the
  *    base ([[append]]), folded in by the next UPDATE/DELETE or past
  *    [[DeltaRows]] rows.
  */
/** @param srcIsArray LINKSET/LINKLIST stored as an array of target
  *        keys in `srcKey` (the reference's RID-collection fields,
  *        e.g. Profile.followers) — navigation explodes the array;
  *        `multi` is implied true. */
final case class LinkSpec(field: String, target: String, srcKey: String,
    dstKey: String, multi: Boolean = false, srcIsArray: Boolean = false)

final case class ClassDef(
    name: String,
    provider: SparkSession => DataFrame,
    superClass: Option[String] = None,
    links: Seq[LinkSpec] = Nil,
    /** synthetic cluster id for `_rid` (`#<cluster>:<pos>`) */
    clusterId: Int = -1,
    /** column holding a deterministic per-row position for `_rid`;
      * None → class has no RID surface (RID queries on it fail). */
    ridPosCol: Option[String] = None)

final class Catalog(spark: SparkSession) {
  private val classes = scala.collection.mutable.LinkedHashMap[String, ClassDef]()

  def register(defn: ClassDef): Catalog = {
    classes(defn.name.toLowerCase) = defn; this
  }

  def get(name: String): ClassDef =
    classes.getOrElse(name.toLowerCase,
      throw Parser.ParseException(s"unknown class '$name'"))

  def contains(name: String): Boolean = classes.contains(name.toLowerCase)
  def all: Seq[ClassDef] = classes.values.toSeq

  def subclassesOf(name: String): Seq[ClassDef] =
    classes.values.filter(_.superClass.exists(_.equalsIgnoreCase(name))).toSeq

  def byClusterId(id: Int): Option[ClassDef] =
    classes.values.find(_.clusterId == id)

  /** One class version's analysed plans: `data` the provider's rows,
    * `table` those rows under the one projection that adds the
    * metadata columns ([[table]]), analysed on first use. */
  private final class Scan(val version: ClassDef, val data: LogicalPlan) {
    lazy val table: LogicalPlan = {
      val meta = version.ridPosCol.map(pc => "_rid" ->
          struct(lit(version.clusterId).as("clusterId"),
            col(pc).cast("long").as("pos"))).toSeq :+
        ("_class" -> lit(version.name))
      GraftPlanBridge.select(spark, data, meta.map(_._1).toSet,
        meta.map { case (n, c) => c.as(n) }).queryExecution.analyzed
    }
  }

  /** the [[Scan]] of each class's current version; only the current
    * version of a class is kept. */
  private val scans = scala.collection.mutable.Map[String, Scan]()

  private def scanOf(d: ClassDef): Scan = {
    val key = d.name.toLowerCase
    scans.get(key).filter(_.version eq d).getOrElse {
      val s = new Scan(d, d.provider(spark).queryExecution.analyzed)
      scans(key) = s
      s
    }
  }

  /** The stored rows of one class (the provider's columns, no metadata):
    * a copy of the current version's analysed plan, with attribute ids
    * no other call shares. */
  def data(name: String): DataFrame =
    GraftPlanBridge.frame(spark,
      GraftPlanBridge.fresh(scanOf(get(name)).data))

  /** Raw (non-polymorphic) table of one class, with `_rid` and `_class`
    * metadata columns attached when the class declares a rid column
    * (`@rid`/`@class` pseudo-attributes, `OSQLFilterItemRecordAttrib`):
    * like [[data]], a copy of the version's analysed plan, so a call
    * neither runs the provider nor analyses anything. */
  def table(name: String): DataFrame =
    GraftPlanBridge.frame(spark,
      GraftPlanBridge.fresh(scanOf(get(name)).table))

  /** Polymorphic scan: the class plus all transitive subclasses,
    * unioned by name with nulls for missing columns — the Spark
    * equivalent of `getPolymorphicClusterIds()` cluster iteration
    * (`OClass.java`, `ORecordIteratorClass.java:36-77`). Cycle-safe:
    * a malformed inheritance loop scans each class once. */
  def polymorphicScan(name: String): DataFrame =
    polymorphicScan(name, Set.empty)

  private def polymorphicScan(name: String,
      visited: Set[String]): DataFrame = {
    val key = get(name).name.toLowerCase
    val direct = table(name)
    val subs = subclassesOf(get(name).name)
      .filterNot(s => visited.contains(s.name.toLowerCase))
    subs.foldLeft(direct) { (acc, sub) =>
      acc.unionByName(polymorphicScan(sub.name, visited + key),
        allowMissingColumns = true)
    }
  }

  /** superclass chain, cycle-safe. */
  def superChain(clsName: String): Seq[ClassDef] = {
    val out = scala.collection.mutable.ListBuffer[ClassDef]()
    val seen = scala.collection.mutable.Set[String]()
    var cur: Option[ClassDef] = Some(get(clsName))
    while (cur.isDefined && seen.add(cur.get.name.toLowerCase)) {
      out += cur.get
      cur = cur.get.superClass.filter(s => contains(s)).map(get)
    }
    out.toSeq
  }

  /** assign the record-identity column of a (created) class: the graph
    * facade keys vertices/edges by `id`, which gives them the full
    * `@rid` surface (RID targets, dictionary roots, fetch plans).
    * Manifest-persisted, so identity survives a durable reopen. */
  def setRidPosCol(name: String, keyCol: String): Unit = {
    val d = get(name)
    classes(d.name.toLowerCase) = d.copy(ridPosCol = Some(keyCol))
    persistManifest()
  }

  def linkOf(cls: ClassDef, field: String): Option[LinkSpec] =
    superChain(cls.name).iterator
      .flatMap(_.links.find(_.field.equalsIgnoreCase(field)))
      .nextOption()

  // ---- mutation (DML/DDL surface, §2.9) ---------------------------

  /** replace a class's backing data (INSERT/UPDATE/DELETE rewrite).
    *
    * In-memory mode the frame becomes the class's provider as it is;
    * UPDATE and DELETE hand in a frame [[materialise]]d already. A
    * lazy rewrite (DDL, bulk append) whose analysed plan passes
    * [[MaxPlanNodes]] is checkpointed here, so repeated lazy rewrites
    * cannot stack a plan without bound.
    *
    * Durable mode ([[enableDurability]]) commits each rewrite as a new
    * parquet version directory + atomically-replaced `_current` marker
    * (write-new-then-swap: readers of the old version are never
    * disturbed, a crash mid-write leaves the old version current —
    * the same commit shape as a table-format transaction log; the
    * reference's writes go through its storage layer,
    * `OCommandExecutorSQLUpdate.java:60-208`). Mutations survive a
    * session restart; lineage is naturally truncated by the write. */
  def replaceData(name: String, df: DataFrame): Unit = {
    val d = get(name)
    val key = d.name.toLowerCase
    durableRoot match {
      case Some(root) if !txActive =>
        val v = currentVersion(root, key).getOrElse(0L) + 1
        val dir = s"${classDir(root, key)}/v$v"
        df.write.mode("overwrite").parquet(dir)
        writeSentinel(dir)
        writeMarker(root, key, v)
        classes(key) = d.copy(provider = s => s.read.parquet(dir))
        // retention window: keep the last 8 versions so lazy frames
        // captured against recent versions stay readable; older
        // history is a deployment-retention concern
        if (v > 8) deleteQuiet(s"${classDir(root, key)}/v${v - 8}")
      case _ =>
        // in-memory mode, and the BUFFERING path of an active durable
        // transaction: the provider swap makes the write visible to
        // this session (read-your-writes) while nothing touches disk
        // until commitTx
        val stored =
          if (df.queryExecution.analyzed.collect { case p => p }.size >
              MaxPlanNodes) df.localCheckpoint(true)
          else df
        classes(key) = d.copy(provider = _ => stored)
        if (txActive) txPendingData(key) = stored
    }
    scans.remove(key); deltas.remove(key)
    fulltext.invalidate(key) // postings over the old data are stale
  }

  /** plan size past which a lazy in-memory rewrite is checkpointed. */
  private val MaxPlanNodes = 64

  /** INSERT rows not yet folded into the class's base data: `owner` is
    * the class version they belong to, `base` the analysed plan of the
    * version before the first of them. */
  private final class Delta(val owner: ClassDef, val base: LogicalPlan,
      val rows: Vector[InternalRow])
  private val deltas = scala.collection.mutable.Map[String, Delta]()

  /** delta size past which an [[append]] folds the delta into the base
    * (one eager localCheckpoint). */
  private val DeltaRows = 1024

  /** Append rows that carry the class's stored columns, in order.
    *
    * In-memory mode (and while a transaction buffers) rows that plan to
    * a local relation and cast up to the class's column types join the
    * class's driver-side delta: the new version reads `base ∪ delta`,
    * and the append builds no plan over the data, launches no job and
    * analyses nothing but the rows. Other appends — a distributed
    * frame, a type the union would widen, durable commits — replace
    * the data with the by-name union, as a rewrite. */
  def append(name: String, rows: DataFrame): Unit = {
    val d = get(name)
    val key = d.name.toLowerCase
    val (base, prior) = baseOf(d)
    val target = base.output
    val fits = (durableRoot.isEmpty || txActive) &&
      rows.schema.fields.toSeq.corresponds(target)((f, a) =>
        f.name == a.name && Cast.canUpCast(f.dataType, a.dataType))
    val local =
      if (!fits) None
      else rows.select(target.map(a => col(a.name).cast(a.dataType)): _*)
        .queryExecution.optimizedPlan match {
          case l: LocalRelation => Some(l.data)
          case _ => None
        }
    local match {
      case None => replaceData(name, data(name).unionByName(rows))
      case Some(added) =>
        val all = prior ++ added
        val union = GraftPlanBridge.frame(spark, Union(
          GraftPlanBridge.fresh(base),
          LocalRelation(target.map(_.withNullability(true).newInstance()),
            all)))
        if (all.size > DeltaRows)
          replaceData(name, materialise(name, union)._1)
        else {
          val next = d.copy(provider = _ => union)
          classes(key) = next
          scans(key) = new Scan(next, union.queryExecution.analyzed)
          deltas(key) = new Delta(next, base, all)
          if (txActive) txPendingData(key) = union
          fulltext.invalidate(key)
        }
    }
  }

  /** the base plan of a class version and the delta rows read with it */
  private def baseOf(d: ClassDef): (LogicalPlan, Vector[InternalRow]) =
    deltas.get(d.name.toLowerCase).filter(_.owner eq d)
      .map(dl => (dl.base, dl.rows)).getOrElse((scanOf(d).data, Vector.empty))

  /** Materialise `df`, a class's next version, with one eager
    * localCheckpoint; the class itself is unchanged until
    * [[replaceData]]. Returns the stored frame and the metrics that
    * `Dataset.observe` calls in `df` collected during that one job.
    * Over a materialised base, `df` is coalesced to the base's
    * partition count, so folding delta rows in (each read of a delta
    * adds its own partitions) does not grow the class's partitions. */
  def materialise(name: String,
      df: DataFrame): (DataFrame, Map[String, Row]) = {
    val out = baseOf(get(name))._1 match {
      case r: LogicalRDD => df.coalesce(math.max(1, r.rdd.getNumPartitions))
      case _ => df
    }
    val stored = out.localCheckpoint(true)
    (stored, out.queryExecution.observedMetrics)
  }

  // ---- durability (parquet-committed DML, §2.9 Delta mapping) -----
  private var durableRoot: Option[String] = None

  /** the durable directory this catalog commits to, if any — exposed so
    * facades (e.g. [[graft.graph.GraphApi]]) can coordinate per-store
    * state (id allocators) across sessions opened on the same root. */
  private[graft] def durableRootDir: Option[String] = durableRoot

  private def hadoopFs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** class-name → data-directory GENERATION. Re-creating a dropped
    * name bumps the generation, so the new class's committed data
    * lands in a FRESH directory: stale pre-drop version dirs (e.g.
    * left behind by a drop whose data delete failed) can never
    * resurrect under the re-created class — the old hazard where a
    * surviving v-dir + `_current` marker leaked pre-drop rows into an
    * unrelated same-name class. */
  private val gens = scala.collection.mutable.Map[String, Long]()
  private def genOf(key: String): Long = gens.getOrElse(key, 0L)
  private def classDir(root: String, key: String): String =
    s"$root/$key" + (if (genOf(key) > 0) s"__g${genOf(key)}" else "")

  /** completion sentinel OWNED BY THE ENGINE, written after every
    * version-dir parquet write. Hadoop's `_SUCCESS` depends on a
    * committer setting (`mapreduce.fileoutputcommitter.
    * marksuccessfuljobs`) that deployments routinely disable; crash
    * recovery must not hinge on someone else's optional marker. The
    * scan accepts either (ours is always written; `_SUCCESS` covers
    * dirs from older sessions). */
  private val Sentinel = "_graft_commit"
  private def writeSentinel(dir: String): Unit = {
    val fs = hadoopFs(dir)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/$Sentinel"), true).close()
  }

  /** committed version of a class: the marker file, with a fallback
    * scan over completed version dirs (those carrying a completion
    * sentinel) — a crash that loses the marker never loses the
    * commit. Staged transaction dirs (dot-prefixed) never match. */
  private def currentVersion(root: String, key: String): Option[Long] = {
    val fs = hadoopFs(root)
    val base = classDir(root, key)
    val p = new org.apache.hadoop.fs.Path(s"$base/_current")
    val fromMarker =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
        finally in.close()
      }
    fromMarker.orElse {
      val dir = new org.apache.hadoop.fs.Path(base)
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
        .flatMap(s => s.getPath.getName.drop(1).toLongOption
          .filter(_ =>
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, Sentinel)) ||
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))))
        .maxOption
    }
  }

  // ---- time travel (the read benefit the versioned commit layout
  // already pays for; Delta-style `VERSION AS OF`) ------------------

  /** completed (commit-sentinel-carrying) versions of a durable
    * class within the retention window, ascending. Empty for
    * in-memory classes (they keep no history). */
  def tableVersions(name: String): Seq[Long] = {
    val key = get(name).name.toLowerCase
    durableRoot.toSeq.flatMap { root =>
      val fs = hadoopFs(root)
      val dir = new org.apache.hadoop.fs.Path(classDir(root, key))
      if (!fs.exists(dir)) Seq()
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
        .flatMap(s => s.getPath.getName.drop(1).toLongOption
          .filter(_ =>
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, Sentinel)) ||
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))))
        .sorted
    }
  }

  /** Time-travel read: the class's rows AS OF an earlier committed
    * version ([[tableVersions]] lists what's readable — the last 8
    * commits by the [[replaceData]] retention rule). Historical
    * version dirs are immutable-once-committed (writes always create
    * v{n+1}; only retention deletes), so the returned frame is a
    * stable snapshot: audit "what did this class hold before that
    * UPDATE", diff two versions, or reproduce a pipeline run against
    * the exact input it saw. Throws for unknown/expired versions and
    * for in-memory classes. */
  def tableAt(name: String, version: Long): DataFrame = {
    val d = get(name)
    val key = d.name.toLowerCase
    val root = durableRoot.getOrElse(throw new IllegalStateException(
      s"time travel needs durability enabled (class '$name')"))
    val avail = tableVersions(name)
    if (!avail.contains(version))
      throw new IllegalArgumentException(
        s"class '$name' has no committed version $version " +
          s"(available: ${avail.mkString(", ")})")
    spark.read.parquet(s"${classDir(root, key)}/v$version")
  }

  /** Change feed between two committed versions: the full-row diff,
    * one row per change, tagged `_change` = 'removed' (in `fromV`,
    * gone by `toV`) or 'added' (new in `toV`). An UPDATE shows as
    * remove+add of the touched rows only — untouched rows cancel in
    * the `exceptAll`. Schema evolution between the versions is
    * handled by null-extending each side to the union of columns
    * (same rule as polymorphic scans). Multiset semantics: duplicate
    * rows diff by count, so a dup-insert shows exactly the added
    * copies. Both sides stay distributed — the diff is two
    * aggregation-based exceptAlls, never a collect. */
  def diffVersions(name: String, fromV: Long, toV: Long): DataFrame = {
    val a = tableAt(name, fromV)
    val b = tableAt(name, toV)
    val types = (a.schema ++ b.schema).map(f => f.name -> f.dataType).toMap
    val cols = (a.columns ++ b.columns).distinct.sorted
    def canon(df: DataFrame) = {
      val full = cols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(types(c))))
      full.select(cols.map(col): _*)
    }
    val ca = canon(a)
    val cb = canon(b)
    ca.exceptAll(cb).withColumn("_change", lit("removed"))
      .unionByName(cb.exceptAll(ca).withColumn("_change", lit("added")))
  }

  /** marker update via write-temp-then-rename: the in-place truncate a
    * plain create(overwrite) does would leave an empty marker if the
    * process died mid-write. The delete+rename window is covered by
    * the [[currentVersion]] directory-scan fallback. */
  private def writeMarker(root: String, key: String, v: Long): Unit = {
    val fs = hadoopFs(root)
    val base = classDir(root, key)
    val tmp = new org.apache.hadoop.fs.Path(s"$base/_current.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$base/_current")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  // ---- transactions (atomic multi-statement commit, §2.9) ---------
  // Reference: optimistic transactions buffer record changes and apply
  // them as one unit at commit (core tx/OTransactionOptimistic.java);
  // the remote protocol ships the whole batch in a single COMMIT op.
  // Graft's analog: between beginTx and commitTx, DML swaps providers
  // in-session only (read-your-writes) while DDL mutates the in-memory
  // catalog with the manifest write suppressed; commitTx stages every
  // touched class's final frame as a HIDDEN version dir, then performs
  // ONE atomic manifest rename carrying the DDL state + staged data
  // versions — the commit point — then promotes the staged dirs and
  // flips markers (all idempotent; recovery replays them from the
  // manifest if the process dies mid-finalize). A crash before the
  // manifest rename leaves nothing visible on reopen.

  private var txActive = false
  private val txPendingData =
    scala.collection.mutable.LinkedHashMap[String, DataFrame]()
  /** dropped-class data dirs to purge at commit (path captured at drop
    * time — a later re-create in the same tx bumps the generation). */
  private val txPendingDrops =
    scala.collection.mutable.LinkedHashMap[String, String]()
  private final case class TxSnapshot(
      classes: Seq[(String, ClassDef)],
      properties: Map[(String, String), PropertyDef],
      indexes: Map[(String, String), String],
      acl: Map[(String, String), Set[String]],
      users: Map[String, (String, Set[String])],
      tombstones: Set[String],
      gens: Map[String, Long],
      nextClusterId: Int)
  private var txSnapshot: TxSnapshot = null
  /** test hook: throw right after the commit-point manifest rename,
    * before any finalize step — recovery must roll the batch forward. */
  private[engine] var txCrashAfterManifest = false
  /** test hook: simulate a drop whose durable data delete failed (the
    * generation bump on re-create makes the stale dir harmless). */
  private[engine] var failDropDelete = false

  def txInProgress: Boolean = txActive

  def beginTx(): Unit = {
    require(!txActive, "transaction already active")
    txSnapshot = TxSnapshot(classes.toSeq, properties.toMap, indexes.toMap,
      acl.toMap, users.toMap, tombstones.toSet, gens.toMap, nextClusterId)
    // optimistic-concurrency baseline (reference MVCC contract,
    // OTransactionOptimistic / TransactionOptimisticTest.java:79-104):
    // remember each class's committed on-disk version as of BEGIN; a
    // class whose version moved by commit time was changed by another
    // session and the commit must fail instead of silently overwriting
    // it. Class-granular — the honest unit for a columnar batch
    // engine, where every write replaces a class version.
    txBaseVersions = durableRoot match {
      case Some(root) =>
        classes.keys.map(k => k -> currentVersion(root, k)).toMap
      case None => Map.empty
    }
    txActive = true
  }

  private var txBaseVersions: Map[String, Option[Long]] = Map.empty

  /** opt-in record-level optimistic concurrency (default: class-
    * granular). See the commit-path comment; toggled via
    * [[GraftSession.setRecordLevelConflicts]]. */
  private[engine] var recordLevelTx: Boolean = false

  /** three-way keyed merge for a version-moved class: Some(merged)
    * when this tx's changed keys and the concurrent commit's changed
    * keys are disjoint, None when they collide or the class can't be
    * merged by key (no key column, or the column SET changed — DDL
    * keeps class-granular semantics). Row change detection is a full
    * content hash over name-sorted columns (`_version` rides along, so
    * an UPDATE is always a change even when it writes equal values).
    * One commit-time probe job per conflicted class, conflict-path
    * only — measured at 1M×21 in MEASUREMENTS.md §r13. The hash is
    * xxhash64(to_json(...)): codegen'd, ~half the md5 probe cost; a
    * key+`_version` fast path was measured and REJECTED — it silently
    * loses a DELETE + re-INSERT of the same key (both land at
    * `_version` 0, equal to an untouched base row), the counterexample
    * `TransactionSpec` pins. to_json keeps the digest null- and
    * type-faithful (raw multi-column hashes skip nulls). */
  private def recordLevelRebase(root: String, key: String,
      cur: Option[Long]): Option[DataFrame] = {
    val snapClasses = txSnapshot.classes.toMap
    for {
      d <- classes.get(key)
      rk <- d.ridPosCol
      snap <- snapClasses.get(key)
      ours <- txPendingData.get(key)
      curV <- cur
      base = snap.provider(spark)
      theirs = spark.read.parquet(s"${classDir(root, key)}/v$curV")
      cols = ours.columns.sorted.toSeq
      if base.columns.sorted.toSeq == cols &&
        theirs.columns.sorted.toSeq == cols &&
        cols.exists(_.equalsIgnoreCase(rk))
      // a non-castable or null key would make every __k null: the
      // full_outer change-detection and collision join never match on
      // null, `collide` is vacuously false and the merge silently
      // resolves to `theirs` — the exact lost update this machinery
      // exists to prevent. Any null key ⇒ refuse the rebase (None):
      // the caller falls through to the loud conflict path.
      if !Seq(base, ours, theirs).exists(
        _.filter(col(rk).cast("long").isNull).limit(1).count() > 0)
      merged <- {
        def keyed(df: DataFrame) = df.select(
          col(rk).cast("long").as("__k"),
          xxhash64(to_json(struct(cols.map(col): _*))).as("__h"))
        // keys whose row changed on one side (updated, inserted or
        // deleted vs the begin-time frame)
        def changed(side: DataFrame) = keyed(base).as("b")
          .join(keyed(side).as("s"), col("b.__k") === col("s.__k"),
            "full_outer")
          .filter(col("b.__h").isNull || col("s.__h").isNull ||
            col("b.__h") =!= col("s.__h"))
          .select(coalesce(col("b.__k"), col("s.__k")).as("__k"))
        val oursChanged = changed(ours).localCheckpoint()
        val theirsChanged = changed(theirs).localCheckpoint()
        val collide = oursChanged.join(theirsChanged, "__k")
          .limit(1).count() > 0
        if (collide) None
        else Some(
          // their frame, minus the keys we touched, plus our touched
          // rows (a key we deleted is in oursChanged but absent from
          // ours — dropped, exactly right)
          theirs.join(oursChanged, col(rk).cast("long") === col("__k"),
              "left_anti")
            .unionByName(ours.join(oursChanged,
              col(rk).cast("long") === col("__k"), "left_semi")))
      }
    } yield merged
  }

  def rollbackTx(): Unit = {
    require(txActive, "no active transaction")
    val touched = (txPendingData.keySet ++ txPendingDrops.keySet).toSeq
    classes.clear(); classes ++= txSnapshot.classes
    properties.clear(); properties ++= txSnapshot.properties
    indexes.clear(); indexes ++= txSnapshot.indexes
    acl.clear(); acl ++= txSnapshot.acl
    users.clear(); users ++= txSnapshot.users
    tombstones.clear(); tombstones ++= txSnapshot.tombstones
    gens.clear(); gens ++= txSnapshot.gens
    nextClusterId = txSnapshot.nextClusterId
    // the restored versions' plans are built again on their next read
    scans.clear(); deltas.clear()
    // postings built during the tx reflect uncommitted data
    touched.foreach(fulltext.invalidate)
    txPendingData.clear(); txPendingDrops.clear()
    txSnapshot = null; txActive = false
  }

  def commitTx(): Unit = {
    require(txActive, "no active transaction")
    durableRoot.foreach { root =>
      // stage: hidden dirs are invisible to markers, fallback scans
      // and readers until the commit point below. A class dropped
      // later in the tx has no entry left in txPendingData.
      // txActive stays TRUE until the commit point: a staging or
      // manifest failure leaves the transaction open, so the caller's
      // rollback() still restores the snapshot and the pending frames
      // can never leak into a later transaction's commit (orphaned
      // hidden .tx dirs are invisible to readers and recovery).
      // optimistic check BEFORE any staging: every class this tx
      // writes or drops must still be at its begin-time version. A
      // conflict leaves the transaction OPEN (nothing staged), so the
      // caller's rollback restores the snapshot — reference semantics:
      // OConcurrentModificationException, never a silent lost update.
      // With [[recordLevelTx]] (opt-in, r11 VERDICT "what's missing"
      // #3) a moved class version first attempts a RECORD-level
      // resolution: if the concurrent commit touched a disjoint key
      // set, this tx's row changes REBASE onto the new version and the
      // commit proceeds — the reference's per-record MVCC outcome
      // (`OTransactionOptimistic`, TransactionOptimisticTest.java:
      // 79-104) re-expressed as a keyed three-way merge, the honest
      // record unit for an engine whose every write replaces a class
      // frame. Same touched row (or an unkeyed/schema-shifted class)
      // still conflicts loudly.
      (txPendingData.keySet ++ txPendingDrops.keySet).foreach { key =>
        val cur = currentVersion(root, key)
        if (cur != txBaseVersions.getOrElse(key, None)) {
          val rebased =
            if (recordLevelTx && !txPendingDrops.contains(key))
              recordLevelRebase(root, key, cur)
            else None
          rebased match {
            case Some(df) =>
              txPendingData(key) = df
              txBaseVersions += (key -> cur)
            case None =>
              throw new java.util.ConcurrentModificationException(
                s"class '$key' was modified by another session since " +
                  s"this transaction began (version ${txBaseVersions
                    .getOrElse(key, None)} -> $cur): commit refused, " +
                  "roll back and retry")
          }
        }
      }
      val staged = txPendingData.iterator
        .filter { case (key, _) => classes.contains(key) }
        .map { case (key, df) =>
          val v = currentVersion(root, key).getOrElse(0L) + 1
          val stage = s"${classDir(root, key)}/.tx-v$v"
          df.write.mode("overwrite").parquet(stage)
          writeSentinel(stage)
          (key, v)
        }.toSeq
      // COMMIT POINT: one atomic rename makes DDL + tombstones + data
      // versions durable together
      persistManifestNow(staged)
      txActive = false // durable from here; finalize is replay-safe
      if (txCrashAfterManifest) {
        txCrashAfterManifest = false
        txPendingData.clear(); txPendingDrops.clear(); txSnapshot = null
        throw new IllegalStateException("injected crash after tx commit point")
      }
      // finalize — idempotent; enableDurability replays it from the
      // manifest's txdata entries if the process dies here
      staged.foreach { case (key, v) =>
        promoteStaged(root, key, v)
        classes.get(key).foreach { d =>
          val dir = s"${classDir(root, key)}/v$v"
          classes(key) = d.copy(provider = s => s.read.parquet(dir))
        }
      }
      txPendingDrops.values.foreach(deleteQuiet)
      persistManifestNow(Nil) // clears the txdata entries
      deltas.clear() // committed classes read their parquet versions
    }
    txActive = false
    txPendingData.clear(); txPendingDrops.clear()
    txSnapshot = null
  }

  /** promote one staged tx dir to a committed version: rename + marker
    * flip, both no-ops when already done (crash-replay safe). */
  private def promoteStaged(root: String, key: String, v: Long): Unit = {
    val fs = hadoopFs(root)
    val base = classDir(root, key)
    val stage = new org.apache.hadoop.fs.Path(s"$base/.tx-v$v")
    val dst = new org.apache.hadoop.fs.Path(s"$base/v$v")
    if (fs.exists(stage) && !fs.exists(dst)) { fs.rename(stage, dst); () }
    if (currentVersion(root, key).forall(_ < v)) writeMarker(root, key, v)
  }

  private def deleteQuiet(path: String): Unit =
    try hadoopFs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    catch { case _: java.io.IOException => () }

  /** Turn on parquet-committed durability under `root` and replay any
    * state a previous session committed there: DDL-created classes,
    * indexes, property constraints and ACL entries re-register from
    * the catalog manifest, and every class with a committed data
    * version reads from it instead of its original provider. Call
    * once, right after construction. FULLTEXT postings are NOT stored —
    * they rebuild lazily from the committed data on first indexed
    * query. */
  def enableDurability(root: String): Unit = {
    durableRoot = Some(root)
    val fs = hadoopFs(root)
    // the tmp file covers the delete→rename window of a crashed commit
    val manifest = Seq(s"$root/catalog-manifest.json",
        s"$root/catalog-manifest.tmp")
      .find(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (manifest.isDefined) {
      val rows = spark.read.json(manifest.get)
      def str(r: org.apache.spark.sql.Row, f: String): Option[String] =
        if (!rows.columns.contains(f) || r.isNullAt(r.fieldIndex(f))) None
        else Some(r.getAs[String](f))
      def num(r: org.apache.spark.sql.Row, f: String): Option[Long] =
        if (!rows.columns.contains(f) || r.isNullAt(r.fieldIndex(f))) None
        else Some(r.getAs[Long](f))
      val all = rows.collect()
      // classes first (links/properties/indexes refer to them). A
      // manifest row ALWAYS wins over a code-seeded registration of
      // the same name: it can only exist because DDL dropped the seed
      // and re-created the class, and that DDL state is the truth.
      all.filter(r => str(r, "kind").contains("class")).foreach { r =>
        val name = r.getAs[String]("name")
        locally {
          val links: Seq[LinkSpec] =
            if (!rows.columns.contains("links") ||
                r.isNullAt(r.fieldIndex("links"))) Nil
            else r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("links"))
              .map(l => LinkSpec(l.getAs[String]("field"),
                l.getAs[String]("target"), l.getAs[String]("srcKey"),
                l.getAs[String]("dstKey"), l.getAs[Boolean]("multi"),
                l.getAs[Boolean]("srcIsArray")))
          val schema = org.apache.spark.sql.types.StructType(Nil)
          register(ClassDef(name,
            s => s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
            str(r, "superClass"), links,
            r.getAs[Long]("clusterId").toInt, str(r, "ridPosCol")))
          nextClusterId = math.max(nextClusterId,
            r.getAs[Long]("clusterId").toInt)
          num(r, "gen").filter(_ > 0)
            .foreach(g => gens(name.toLowerCase) = g)
        }
      }
      all.filter(r => str(r, "kind").contains("index")).foreach { r =>
        indexes((r.getAs[String]("cls"), r.getAs[String]("field"))) =
          r.getAs[String]("idx")
      }
      all.filter(r => str(r, "kind").contains("property")).foreach { r =>
        setPropertyQuiet(PropertyDef(
          r.getAs[String]("cls"), r.getAs[String]("field"),
          r.getAs[String]("tpe"),
          mandatory = r.getAs[Boolean]("mandatory"),
          notNull = r.getAs[Boolean]("notNull"),
          min = str(r, "min"), max = str(r, "max"),
          regexp = str(r, "regexp"), linkedClass = str(r, "linked")))
      }
      all.filter(r => str(r, "kind").contains("acl")).foreach { r =>
        acl((r.getAs[String]("role"), r.getAs[String]("resource"))) =
          r.getSeq[String](r.fieldIndex("perms")).toSet
      }
      all.filter(r => str(r, "kind").contains("user")).foreach { r =>
        users(r.getAs[String]("name")) = (r.getAs[String]("pwsha"),
          r.getSeq[String](r.fieldIndex("roles")).toSet)
      }
      all.filter(r => str(r, "kind").contains("dict")).foreach { r =>
        dictEntries(r.getAs[String]("name")) =
          (r.getAs[String]("cls"), r.getAs[Long]("key"))
      }
      all.filter(r => str(r, "kind").contains("model")).foreach { r =>
        modelKinds(r.getAs[String]("name")) =
          r.getAs[String]("modelKind")
      }
      // tombstones last: a previous session dropped these — the code
      // seed may have re-registered them above; remove them again. The
      // generation travels with the tombstone so a re-create in THIS
      // session still bumps past the dropped data dirs.
      all.filter(r => str(r, "kind").contains("dropped")).foreach { r =>
        val t = r.getAs[String]("name").toLowerCase
        tombstones += t
        classes.remove(t)
        num(r, "gen").filter(_ > 0).foreach(g => gens(t) = g)
      }
      // txdata entries mean a transaction crashed between its commit
      // point and finalize: roll the whole batch forward (promote is
      // idempotent — already-finalized entries are no-ops)
      all.filter(r => str(r, "kind").contains("txdata")).foreach { r =>
        val key = r.getAs[String]("name").toLowerCase
        num(r, "version").foreach { v =>
          if (classes.contains(key)) promoteStaged(root, key, v)
        }
      }
    }
    // point every committed class at its latest parquet version
    classes.keys.toSeq.foreach { key =>
      currentVersion(root, key).foreach { v =>
        val dir = s"${classDir(root, key)}/v$v"
        classes(key) = classes(key).copy(
          provider = s => s.read.parquet(dir))
      }
    }
  }

  /** persist the DDL surface (created classes + links, indexes,
    * property constraints, ACL) so a reopened session can replay it.
    * One small JSONL file, kind-discriminated; testdata-backed classes
    * re-register from code and are skipped. Suppressed while a
    * transaction is buffering — [[commitTx]] writes it once, as the
    * commit point. */
  private[engine] def persistManifest(): Unit =
    if (!txActive) persistManifestNow(Nil)

  private def persistManifestNow(
      txData: Seq[(String, Long)]): Unit = durableRoot.foreach { root =>
    // full JSON string escaping: backslash, quote AND control chars —
    // a class/property name carrying a newline or tab must round-trip,
    // not corrupt the JSONL framing
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def js(s: String) = "\"" + esc(s) + "\""
    def jsOpt(o: Option[String]) = o.map(js).getOrElse("null")
    val classLines = classes.values.filter(_.clusterId > 1000).map { d =>
      val links = d.links.map(l =>
        s"""{"field":${js(l.field)},"target":${js(l.target)},""" +
          s""""srcKey":${js(l.srcKey)},"dstKey":${js(l.dstKey)},""" +
          s""""multi":${l.multi},"srcIsArray":${l.srcIsArray}}""")
        .mkString("[", ",", "]")
      s"""{"kind":"class","name":${js(d.name)},""" +
        s""""superClass":${jsOpt(d.superClass)},""" +
        s""""clusterId":${d.clusterId},"gen":${genOf(d.name.toLowerCase)},""" +
        s""""ridPosCol":${jsOpt(d.ridPosCol)},"links":$links}"""
    }
    val indexLines = indexes.map { case ((c, f), k) =>
      s"""{"kind":"index","cls":${js(c)},"field":${js(f)},"idx":${js(k)}}"""
    }
    val propLines = properties.values.map { p =>
      s"""{"kind":"property","cls":${js(p.cls)},"field":${js(p.name)},""" +
        s""""tpe":${js(p.tpe)},"mandatory":${p.mandatory},""" +
        s""""notNull":${p.notNull},"min":${jsOpt(p.min)},""" +
        s""""max":${jsOpt(p.max)},"regexp":${jsOpt(p.regexp)},""" +
        s""""linked":${jsOpt(p.linkedClass)}}"""
    }
    val aclLines = acl.map { case ((role, res), perms) =>
      s"""{"kind":"acl","role":${js(role)},"resource":${js(res)},""" +
        perms.toSeq.sorted.map(js).mkString(""""perms":[""", ",", "]}")
    }
    val userLines = users.map { case (n, (sha, roles)) =>
      s"""{"kind":"user","name":${js(n)},"pwsha":${js(sha)},""" +
        roles.toSeq.sorted.map(js).mkString(""""roles":[""", ",", "]}")
    }
    val dictLines = dictEntries.map { case (n, (c, k)) =>
      s"""{"kind":"dict","name":${js(n)},"cls":${js(c)},"key":$k}"""
    }
    val modelLines = modelKinds.map { case (n, k) =>
      s"""{"kind":"model","name":${js(n)},"modelKind":${js(k)}}"""
    }
    val tombLines = tombstones.toSeq.sorted.map(t =>
      s"""{"kind":"dropped","name":${js(t)},"gen":${genOf(t)}}""")
    val txLines = txData.map { case (k, v) =>
      s"""{"kind":"txdata","name":${js(k)},"version":$v}"""
    }
    val fs = hadoopFs(root)
    // write-temp-then-rename: never truncate the live manifest in
    // place (a crash mid-write would silently lose the whole catalog)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/catalog-manifest.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$root/catalog-manifest.json")
    val out = fs.create(tmp, true)
    try out.write(
      (classLines ++ indexLines ++ propLines ++ aclLines ++ userLines ++
        dictLines ++ modelLines ++ tombLines ++ txLines)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  def addLink(clsName: String, spec: LinkSpec): Unit = {
    val d = get(clsName)
    classes(d.name.toLowerCase) =
      d.copy(links = d.links.filterNot(
        _.field.equalsIgnoreCase(spec.field)) :+ spec)
    persistManifest()
  }

  /** class names dropped this or a previous durable session — written
    * to the manifest as tombstones so dropping a CODE-SEEDED class
    * (testdata tables) survives reopen (the seed re-registers it; the
    * tombstone removes it again). CREATE CLASS clears the tombstone. */
  private val tombstones = scala.collection.mutable.Set[String]()

  def drop(name: String): Unit = {
    val key = name.toLowerCase
    classes.remove(key)
    scans.remove(key); deltas.remove(key)
    // a dropped class takes its metadata with it: stale properties
    // would reject inserts into a later class of the same name, stale
    // indexes/postings would replay from the manifest or serve
    // pre-drop keys, stale ACL grants would apply to an unrelated
    // future class of the same name
    properties.keys.filter(_._1 == key).toSeq.foreach(properties.remove)
    indexes.keys.filter(_._1 == key).toSeq.foreach(indexes.remove)
    // only CLASS resources: matching on the bare last segment would
    // also revoke database.schema / database.security grants when a
    // class happens to be named "schema" or "security"
    acl.keys.filter(_._2.equalsIgnoreCase(s"database.class.$key"))
      .toSeq.foreach(acl.remove)
    fulltext.invalidate(key)
    tombstones += key
    persistManifest()
    // durable mode: remove the committed data too. The delete is pure
    // hygiene, not correctness: if it fails (or the process dies
    // first), the tombstone still hides the class, and a later
    // re-create bumps the data-dir GENERATION so the stale dir can
    // never leak pre-drop rows into the new class. In a transaction
    // the delete defers to commit (path captured now — the generation
    // may move on before then).
    durableRoot.foreach { root =>
      val dir = classDir(root, key)
      if (txActive) { txPendingDrops(key) = dir; txPendingData.remove(key); () }
      else if (!failDropDelete) deleteQuiet(dir)
    }
  }

  private var nextClusterId = 1000

  def createClass(name: String, superClass: Option[String]): ClassDef = {
    // duplicate create is an error (reference OSchema semantics), not
    // a silent replacement of the existing class and its data
    if (contains(name))
      throw new IllegalArgumentException(s"class '$name' already exists")
    // reject inheritance cycles up front (self-extends included)
    superClass.foreach { sup =>
      if (sup.equalsIgnoreCase(name) ||
          (contains(sup) && superChain(sup).exists(
            _.name.equalsIgnoreCase(name))))
        throw new IllegalArgumentException(
          s"superclass cycle: $name extends $sup")
    }
    val schema = org.apache.spark.sql.types.StructType(Nil)
    nextClusterId += 1
    val d = ClassDef(name,
      s => s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      superClass, Nil, nextClusterId, None)
    // re-creation revives the name under a NEW data generation: any
    // stale committed versions of the dropped predecessor stay invisible
    if (tombstones.contains(name.toLowerCase))
      gens(name.toLowerCase) = genOf(name.toLowerCase) + 1
    tombstones -= name.toLowerCase
    register(d); persistManifest(); d
  }

  // ---- index registry (CREATE/REMOVE INDEX §2.9) ------------------
  /** (class, field) → kind (UNIQUE | NOTUNIQUE | FULLTEXT). Point/range
    * indexes are advisory in a columnar engine (Catalyst pushdown
    * replaces the MVRB-tree); UNIQUE additionally enforces a write-path
    * check; FULLTEXT builds a real posting table in [[fulltext]]. */
  val indexes = scala.collection.mutable.Map[(String, String), String]()

  /** inverted-index store for FULLTEXT indexes (word → key postings). */
  val fulltext = new FullTextIndexStore

  def fulltextIndexed(clsName: String, field: String): Boolean =
    indexes.get((get(clsName).name.toLowerCase, field.toLowerCase))
      .contains("FULLTEXT")

  // ---- ACL catalog (GRANT/REVOKE §2.9 — accepted, not enforced) ---
  /** (role, resource) → permission set. */
  val acl = scala.collection.mutable.Map[(String, String), Set[String]]()

  // ---- user catalog (reference security: users AND roles) ---------
  /** user name → (SHA-256 hex of password, role set). The reference
    * authenticates a named user whose credential is a SHA-256 digest
    * (`OUser.checkPassword` via `OSecurityManager.digest2String`,
    * `core/.../metadata/security/OUser.java:137-155`,
    * `core/.../security/OSecurityManager.java:56-66`) and resolves
    * permissions through the user's ROLES (`OUser.checkIfAllowed`
    * iterates roles, `OUser.java:114-120`). Only the digest is ever
    * stored — entries ride the manifest like grants, so
    * authentication survives a durable reopen with no plaintext on
    * disk. Insertion-ordered for a deterministic manifest. */
  val users =
    scala.collection.mutable.LinkedHashMap[String, (String, Set[String])]()

  def userPut(name: String, passwordSha256: String,
      roles: Set[String]): Unit = {
    users(name.toLowerCase) = (passwordSha256, roles.map(_.toLowerCase))
    persistManifest()
  }

  def userRemove(name: String): Unit =
    if (users.remove(name.toLowerCase).isDefined) persistManifest()

  // ---- dictionary / graph-root registry (§2.1) --------------------
  /** name → (class, key). The reference dictionary is a PERSISTENT
    * root registry (`core/.../dictionary/ODictionary.java`;
    * `ODatabaseGraphTx.java:71-82` getRoot/setRoot — graph roots must
    * survive restart), so entries ride the catalog manifest like
    * grants and replay on a durable reopen. Insertion-ordered for a
    * deterministic manifest. */
  val dictEntries =
    scala.collection.mutable.LinkedHashMap[String, (String, Long)]()

  def dictPut(name: String, cls: String, key: Long): Unit = {
    dictEntries(name) = (cls.toLowerCase, key)
    persistManifest()
  }

  def dictRemove(name: String): Unit =
    if (dictEntries.remove(name).isDefined) persistManifest()

  // ---- trained-model registry (SURVEY §8 — [[ModelStore]]) --------
  /** model name → kind label. The model DATA lives in a `_model_<n>`
    * class (versioned parquet like any class); this registry is the
    * name→kind index and rides the manifest like [[dictEntries]]. */
  val modelKinds =
    scala.collection.mutable.LinkedHashMap[String, String]()

  def modelPut(name: String, kind: String): Unit = {
    modelKinds(name) = kind
    persistManifest()
  }

  def modelRemove(name: String): Unit =
    if (modelKinds.remove(name).isDefined) persistManifest()

  // ---- property metadata (constraints, §1.4) ----------------------
  val properties = scala.collection.mutable.Map[(String, String), PropertyDef]()

  def setProperty(p: PropertyDef): Unit = {
    setPropertyQuiet(p)
    persistManifest()
  }

  /** registration without a manifest rewrite (manifest replay path). */
  private def setPropertyQuiet(p: PropertyDef): Unit =
    properties((p.cls.toLowerCase, p.name.toLowerCase)) = p

  /** declared properties of a class including the superclass chain
    * (cycle-safe). */
  def propsOf(clsName: String): Seq[PropertyDef] =
    superChain(clsName).flatMap { cls =>
      properties.collect {
        case ((c, _), p) if c == cls.name.toLowerCase => p
      }
    }
}

object Catalog {
  /** Catalog over the driver testdata (TESTDATA.md): TPC-H-ish star
    * schema modeled as reference classes with LINK fields following the
    * foreign keys (customer→nation→region, etc.). */
  def forTestdata(spark: SparkSession, dir: String): Catalog = {
    import graft.sources.Tables
    val cat = new Catalog(spark)
    def cd(name: String, clusterId: Int, pk: String, links: LinkSpec*) =
      ClassDef(name, s => Tables.load(s, dir, name), None, links.toSeq,
        clusterId, Some(pk))
    cat.register(cd("region", 1, "r_regionkey",
        LinkSpec("nations", "nation", "r_regionkey", "n_regionkey", multi = true)))
      .register(cd("nation", 2, "n_nationkey",
        LinkSpec("region", "region", "n_regionkey", "r_regionkey")))
      .register(cd("customer", 3, "c_custkey",
        LinkSpec("nation", "nation", "c_nationkey", "n_nationkey"),
        LinkSpec("orders", "orders", "c_custkey", "o_custkey", multi = true)))
      .register(cd("supplier", 4, "s_suppkey",
        LinkSpec("nation", "nation", "s_nationkey", "n_nationkey")))
      .register(cd("part", 5, "p_partkey"))
      .register(cd("orders", 6, "o_orderkey",
        LinkSpec("customer", "customer", "o_custkey", "c_custkey"),
        LinkSpec("lineitems", "lineitem", "o_orderkey", "l_orderkey", multi = true)))
      .register(ClassDef("lineitem", s => Tables.load(s, dir, "lineitem"),
        None, Seq(
          LinkSpec("order", "orders", "l_orderkey", "o_orderkey"),
          LinkSpec("part", "part", "l_partkey", "p_partkey"),
          LinkSpec("supplier", "supplier", "l_suppkey", "s_suppkey")),
        7, None)) // lineitem has no single-column pk → no RID surface
      .register(cd("events", 8, "event_id"))
      .register(cd("documents", 9, "doc_id"))
      .register(cd("embeddings", 10, "vec_id"))
  }
}
