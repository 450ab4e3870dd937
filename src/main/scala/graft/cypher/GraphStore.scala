package graft.cypher

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.types.MapType

import CypherAst.ConstraintDdl

/** A writable property graph: holds the current [[PropertyGraph]] and
  * applies Cypher WRITE statements through [[CypherWrite]] — the
  * engine-side equivalent of the reference's Neo4j database behind
  * its session pool (app/neo4j_pool.py:6-19). `labelKeys` declares
  * per-label uniqueness keys (graph_constraints.py); statements are
  * serialized (single-writer, like every sink in the engine), reads
  * can run concurrently against the current snapshot.
  *
  * Each statement stacks one (broadcast) join + union layer on the
  * standing frames; a FOLD truncates the stack. The store runs in one
  * of two regimes, and [[GraphStore.BucketProbeRows]] standing rows is
  * the only size gate between them:
  *
  *   - An UNBUCKETED store folds after EVERY write, re-checkpointing
  *     only the frame family (vertices / edges) the statement changed
  *     — none for a MERGE that matched and set nothing — and keeping
  *     the row count from the statement's stats. Each checkpoint
  *     carries its measured size as its plan statistics. An
  *     unfolded layer makes every later probe, read and fold re-run
  *     its broadcast builds, and the layers' union partitions add up
  *     (a disconnected MATCH prefix became a CartesianProduct over
  *     them); one eager checkpoint of the touched family costs less
  *     than what it saves at every size up to the gate (SCALE.md,
  *     per-write fold and two store regimes). The first write after an
  *     explicit transaction's commit folds the whole store once
  *     instead: the fork's statements were not tracked.
  *     Existence is answered on the driver, the way the reference's
  *     Neo4j answers a MERGE from its uniqueness-constraint index: a
  *     key index holds, per written MERGE/CREATE label, the standing
  *     ids of that label's id family and, per written relationship
  *     type, the standing `(src, dst)` pairs ([[GraphStore.KeyIndex]],
  *     reached through [[CypherWrite.ProbeHint.Indexed]]). A write
  *     then pays for its delta and its fold, and no probe jobs
  *     (SCALE.md, "A driver-side key index"). The index changes only
  *     after a statement applied and folded; a commit, a save and the
  *     move to the bucketed regime drop it, and it rebuilds lazily.
  *   - Past the gate (or `forceBucketed`) the store is BUCKETED: the
  *     base is clustered by key hash, each write appends a delta-sized
  *     window segment, and every 8 writes the segments collapse into a
  *     broadcast-sized overlay (see below) — the base is scanned only
  *     bucket-wise and re-written only when the overlay outgrows
  *     `overlayFoldRows` rows and [[GraphStore.MaxLevels]] LSM levels
  *     have stacked.
  *
  * [[stats]] snapshots the standing row count, the bucket mode, the
  * fold count and cost, the key index's entries and the bucketed
  * overlay's rows and LSM levels. Transaction forks ([[executeOn]])
  * apply without a hint: plain Spark probes over the fork.
  */
final class GraphStore(initial: PropertyGraph,
                       initialLabelKeys: Map[String, Seq[String]] = Map.empty,
                       forceBucketed: Boolean = false,
                       // the bucketed overlay's overflow budget;
                       // overridable so specs and soaks can drive the
                       // overflow branch (LSM promotion) on tiny stores
                       overlayFoldRows: Long = GraphStore.OverlayFoldRows) {
  @volatile private var g: PropertyGraph = initial
  /** Per-label uniqueness keys — the engine's spelling of the
    * reference's constraints (app/graph_constraints.py). Mutable
    * since round 15: `CREATE CONSTRAINT` DDL registers keys at
    * runtime, exactly the reference's bootstrap order (constraints
    * first, projectors after). */
  @volatile private var keyReg: Map[String, Seq[String]] = initialLabelKeys
  def labelKeys: Map[String, Seq[String]] = keyReg

  /** Register a uniqueness constraint (`CREATE CONSTRAINT` DDL — the
    * reference's bootstrap, graph_constraints.py:2-133). Identical
    * keys → no-op (IF NOT EXISTS and Neo4j's idempotent re-run both
    * land here); DIFFERENT keys on an already-constrained label fail
    * loudly (the store's MERGE identity is one key tuple per label);
    * a label that already has vertices is audited against the id
    * convention `label:key1:key2` (rows that STORE their key props
    * only — assembly layouts legitimately keep key columns out of
    * the props map), so a late constraint over a non-conforming
    * population fails LOUDLY instead of silently diverging MERGE
    * identity. Returns true when the constraint was newly added. */
  def registerConstraint(d: ConstraintDdl): Boolean = synchronized {
    if (d.keys.isEmpty) throw new IllegalArgumentException(
      "CREATE CONSTRAINT requires at least one key property")
    keyReg.get(d.label) match {
      case Some(ks) if ks == d.keys => false
      case Some(ks) => throw new IllegalArgumentException(
        s"label :${d.label} is already constrained on " +
        s"(${ks.mkString(", ")}) — conflicting keys " +
        s"(${d.keys.mkString(", ")}); the store's MERGE identity is " +
        "one key tuple per label")
      case None =>
        if (g.vertices.schema("props").dataType.isInstanceOf[MapType]) {
          val expect = concat_ws(":",
            (lit(d.label) +: d.keys.map(k =>
              col("props").getItem(k).cast("string"))): _*)
          val bad = d.keys.map(k => col("props").getItem(k).isNotNull)
            .foldLeft(col("id") =!= expect)(_ && _)
          val hit = withoutConstraintPropagation(g.vertices
            .filter(col("label") === d.label && bad).count())
          if (hit > 0) throw new IllegalStateException(
            s"CREATE CONSTRAINT on :${d.label}: existing row(s) " +
            "violate the id convention id = " +
            s"'${d.label}:${d.keys.mkString(":")}' — create " +
            "constraints before non-conforming data (the reference " +
            "runs graph_constraints.py first)")
        }
        keyReg += d.label -> d.keys
        true
    }
  }
  /** Writes since the last fold: the bucketed regime collapses its
    * window segments every 8 writes. */
  private var writesSinceCompact = 0
  /** Standing rows (vertices + edges): set by every count the store
    * makes anyway and advanced by each statement's stats in between;
    * -1 = unknown (after an untracked transaction swap, until the
    * next count). Also the bucket gate's input ([[ensureProbeIndex]]). */
  private var liveRows = -1L
  private var folds = 0L
  private var lastFoldMs = 0.0
  /** One-shot: the seed graph's id-convention audit (see
    * [[bucketize]]) — engine-minted rows always conform, so the
    * O(store) scan never repeats on later rebucketizes. */
  private var idConventionChecked = false

  // ---- fold state (all guarded by `this`) --------------------------
  /** The last folded frames: unbucketed, the family a write did not
    * touch keeps its base as its standing frame; bucketed, the
    * clustered base under the overlay, levels and segments. */
  private var baseV: DataFrame = initial.vertices
  private var baseE: DataFrame = initial.edges
  /** Bucketed overlay: materialized post-apply rows for every
    * vertex/edge touched since the base was pinned (created or
    * updated). */
  private var ovV: Option[DataFrame] = None
  private var ovE: Option[DataFrame] = None
  /** Bucketed cumulative masks of base rows superseded or deleted —
    * PRE-INTERSECTED with the base at collapse time (bucket-pruned
    * probes), so an append-mostly workload (the reference's: new day nodes
    * every statement) keeps them EMPTY and the standing view is a
    * plain `base ∪ overlay` with zero extra join stages per probe.
    * DETACH masks resolve to the base edge TRIPLES at fold time (new
    * edges to a re-created id live in the overlay — never masked). */
  private var maskV: Option[DataFrame] = None
  private var maskE: Option[DataFrame] = None
  private var ovRows = 0L
  /** Touched sets of the unbucketed writes since the last fold. */
  private var window = List.empty[CypherWrite.Touched]
  /** False after an untracked graph swap ([[commitTx]]): the base no
    * longer describes `g`'s untouched family, so the next fold is
    * FULL. */
  private var baseValid = true

  // ---- bucket-pruned probe index (round 14) ------------------------
  // Past [[GraphStore.BucketProbeRows]] the base frames are clustered
  // by key hash ([[BucketedFrame]]) and every per-statement standing
  // probe — MERGE match ids, edge triples, declared-key MATCH-prefix
  // scans, RETURN lookups, the fold's own probes — prunes to the
  // O(delta) buckets a statement can touch, closing SCALE.md
  // round-13 mechanism 4 (2-3 full standing scans per row-at-a-time
  // statement). In bucketed mode the standing view is ALWAYS
  // `base [▷ mask] ∪ overlay ∪ window-segments` at bounded plan
  // depth: each statement appends one SEGMENT (its post-apply touched
  // rows + dead sets, all delta-sized and checkpointed inside the
  // apply), and every 8 statements the segments collapse into the
  // overlay with bucket-pruned probes — the base is scanned only
  // bucket-wise, never re-written, until the overlay outgrows its
  // broadcast budget (then one rebucketize, amortized over ~2^18
  // touched rows).
  private var bktV: Option[BucketedFrame] = None
  private var bktE: Option[BucketedFrame] = None

  /** The unbucketed regime's key index (see the class header); empty
    * while bucketed. */
  private val keyIdx = new GraphStore.KeyIndex

  // ---- leveled overlay fold (round 15) -----------------------------
  // LSM-style: an overlay that outgrows its budget PROMOTES to a
  // bucketed LEVEL (O(overlay) repartition at the base's modulus)
  // instead of triggering a full rebucketize (O(store)); every probe
  // reads the union of the pruned base slice + the pruned level
  // slices (one shared `bucketsOf` job — same modulus everywhere).
  // Levels are kept mutually key-disjoint by an eager anti-join at
  // promotion time (a narrow, partitioning-preserving rewrite of
  // ≤ overlay-budget rows per level — never the base), so the view
  // needs ONE shared kill set per family: the keys touched since the
  // last promotion. The store re-materializes fully only when
  // [[GraphStore.MaxLevels]] stack — one O(store) fold per
  // ~MaxLevels × OverlayFoldRows (~1M) touched rows, the SCALE.md
  // round-14 §4 design.
  private var lvlV = Vector.empty[BucketedFrame]
  private var lvlE = Vector.empty[BucketedFrame]
  /** Ids / triples / DETACH endpoints touched since the last
    * promotion — kill stale copies in every level (disjointness means
    * at most one level holds any key). */
  private var lvlKillV: Option[DataFrame] = None
  private var lvlKillETr: Option[DataFrame] = None
  private var lvlKillEEp: Option[DataFrame] = None
  /** Lazy dst-keyed index over the bucketed edge base — built on the
    * first DETACH-bearing collapse (the dst-side endpoint mask was
    * the one probe that ignored the bucket index: a full base scan),
    * dropped whenever the base re-materializes. */
  private var bktEDst: Option[BucketedFrame] = None
  private def clearLevels(): Unit = {
    lvlV = Vector.empty; lvlE = Vector.empty
    lvlKillV = None; lvlKillETr = None; lvlKillEEp = None
    bktEDst = None
  }
  /** One write statement's delta-sized effect, oldest first. */
  private final case class Seg(
      vRows: Option[DataFrame], vIds: Option[DataFrame],
      vDead: Option[DataFrame],
      eRows: Option[DataFrame], eTriples: Option[DataFrame],
      eDeadTriples: Option[DataFrame], eDeadEndpoints: Option[DataFrame])
  private var segs = Vector.empty[Seg]

  /** Partition budget for [[compact]]: the initial graph's own layout
    * (a big standing graph keeps its source partitioning), floored at
    * the cluster parallelism. Every write statement's apply UNIONS a
    * delta-sized `created` side onto the standing frames, and union
    * partitioning is ADDITIVE — without a coalesce at compaction the
    * partition count grows linearly in statements, every subsequent
    * probe/count schedules thousands of near-empty tasks, and a
    * row-at-a-time replay goes quadratic (round-12 soak measured
    * 2.8 → 6.3 s/statement inside 120 statements; a sampled stage had
    * 19k tasks). Writes add param-sized row counts, never meaningful
    * bytes, so the initial layout stays the right one at any scale. */
  private val targetParts: Int = {
    val sc = initial.vertices.sparkSession.sparkContext
    math.max(sc.defaultParallelism,
      math.max(initial.vertices.rdd.getNumPartitions,
        initial.edges.rdd.getNumPartitions))
  }

  /** Compacted (plan-truncated, partition-bounded) form of a graph —
    * shared by [[compact]] and the Bolt server's transaction forks. */
  private[cypher] def compacted(pg: PropertyGraph): PropertyGraph =
    withoutConstraintPropagation {
      PropertyGraph(compactedFrame(pg.vertices), compactedFrame(pg.edges))
    }

  /** One family checkpointed, its plan statistics the size of its
    * blocks (not the estimate of the stacked plan it folded). */
  private def compactedFrame(df: DataFrame): DataFrame =
    SqlShim.withMeasuredSize(df.coalesce(targetParts).localCheckpoint(true))

  def graph: PropertyGraph = g

  /** A snapshot of the store's shape and fold history. `rows` is the
    * standing vertex + edge count; when the store has not counted
    * since an explicit transaction's commit, the snapshot counts it
    * once. */
  def stats: GraphStore.StoreStats = synchronized {
    if (liveRows < 0)
      liveRows = withoutConstraintPropagation(
        g.vertices.count() + g.edges.count())
    GraphStore.StoreStats(rows = liveRows, bucketed = bktV.isDefined,
      folds = folds, lastFoldMs = lastFoldMs, indexEntries = keyIdx.entries,
      overlayRows = ovRows, levels = math.max(lvlV.size, lvlE.size))
  }

  // ---- catalog procedures (round 16) ------------------------------
  // The `CALL db.*` introspection surface real Neo4j drivers, the
  // Browser, and BI tools issue on connect — served from the
  // STANDING graph plus the constraint registry (the reference's
  // catalog is exactly its 23 constrained labels,
  // app/graph_constraints.py:2-133). Each is one scan-shaped
  // aggregate over the standing view (distinct labels / rel types /
  // map keys — map-side partial dedup keeps the shuffle token-sized);
  // a production deployment at 100 TB would additionally maintain the
  // token sets incrementally at write time, but a catalog probe that
  // costs one partial-agg scan is correct at any scale and exact
  // after out-of-band loads.

  /** Sorted distinct property-key tokens of one table's props
    * container (map or JSON layout; absent column / all-null → empty). */
  private def propKeyTokens(df: DataFrame): Seq[String] = {
    if (!df.columns.contains("props")) return Seq.empty
    val keysC =
      if (df.schema("props").dataType.isInstanceOf[MapType])
        map_keys(col("props"))
      else json_object_keys(col("props"))
    df.filter(col("props").isNotNull)
      .select(explode(keysC).as("k")).distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** `CALL db.labels()` — sorted distinct vertex labels union the
    * constraint registry's labels (a constrained label is in the
    * catalog before its first vertex, as in Neo4j's token store). */
  def procLabels: Seq[String] = {
    val stored = withoutConstraintPropagation(
      g.vertices.select(col("label")).filter(col("label").isNotNull)
        .distinct().collect().map(_.getString(0)).toSeq)
    (stored ++ keyReg.keys).distinct.sorted
  }

  /** `CALL db.relationshipTypes()` — sorted distinct edge types. */
  def procRelationshipTypes: Seq[String] =
    withoutConstraintPropagation(
      g.edges.select(col("rel")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted)

  /** `CALL db.propertyKeys()` — sorted distinct property-key tokens
    * across vertex AND relationship props (Neo4j's propertyKeys is
    * the union token set). */
  def procPropertyKeys: Seq[String] =
    withoutConstraintPropagation(
      (propKeyTokens(g.vertices) ++ propKeyTokens(g.edges))
        .distinct.sorted)

  /** `db.schema.visualization`-lite: the distinct
    * `(srcLabel, rel, dstLabel)` triples of the standing graph,
    * sorted — endpoint labels resolved by joining the vertex table
    * (never by trusting the id prefix: non-conforming populations
    * are legal outside the constraint contract). */
  def procSchemaTriples: Seq[(String, String, String)] =
    withoutConstraintPropagation {
      val v = g.vertices.select(col("id"), col("label"))
      g.edges.select(col("src"), col("dst"), col("rel"))
        .join(v.select(col("id").as("src"), col("label").as("srcLabel")),
          Seq("src"))
        .join(v.select(col("id").as("dst"), col("label").as("dstLabel")),
          Seq("dst"))
        .select(col("srcLabel"), col("rel"), col("dstLabel")).distinct()
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq.sorted
    }

  /** Wire rows of a catalog procedure (see
    * [[CypherParser.parseProcedureCall]]): `(fields, records)` in the
    * shape the Bolt server streams. `db.schema.visualization` is the
    * LITE text form — one row, `nodes` = the label list,
    * `relationships` = `(:Src)-[:REL]->(:Dst)` triple text — not
    * Neo4j's virtual-node structures (documented deviation; the
    * catalog CONTENT is identical). */
  def procedureRows(proc: String): (Seq[String], Array[Seq[Any]]) =
    proc match {
      case "db.labels" =>
        (Seq("label"), procLabels.map(l => Seq[Any](l)).toArray)
      case "db.relationshipTypes" =>
        (Seq("relationshipType"),
          procRelationshipTypes.map(t => Seq[Any](t)).toArray)
      case "db.propertyKeys" =>
        (Seq("propertyKey"),
          procPropertyKeys.map(k => Seq[Any](k)).toArray)
      case "db.schema.visualization" =>
        val rels = procSchemaTriples.map { case (s, r, d) =>
          s"(:$s)-[:$r]->(:$d)" }
        (Seq("nodes", "relationships"),
          Array(Seq[Any](procLabels, rels)))
      case "dbms.components" =>
        // drivers probe this on connect for server identity; the
        // engine answers honestly (its own name/version — never a
        // Neo4j masquerade)
        (Seq("name", "versions", "edition"),
          Array(Seq[Any]("graft", Seq("0.16"), "spark")))
      case other => throw new IllegalArgumentException(
        s"unknown procedure $other")
    }

  private def withoutConstraintPropagation[T](f: => T): T =
    GraphStore.withoutConstraintPropagation(g.vertices.sparkSession)(f)

  def cypher(q: String, params: Map[String, Any] = Map.empty): DataFrame =
    g.cypher(q, params)

  /** Execute one WRITE statement (MERGE/CREATE/SET). Returns the
    * write stats; the store's graph advances atomically. A statement
    * with a RETURN/WITH continuation runs fine here — the returned
    * rows are simply dropped; use [[executeReturning]] to read them. */
  def execute(stmt: String,
              params: Map[String, Any] = Map.empty): CypherWrite.Stats =
    executeReturning(stmt, params)._1

  /** [[execute]] plus the statement's returned rows (round 13:
    * `MERGE … RETURN n.x`, `MERGE … WITH … MATCH … RETURN …`). The
    * rows project the statement's bound rows against the post-apply
    * graph; the frame stays valid after later writes (DataFrames are
    * immutable snapshots of their lineage). */
  def executeReturning(stmt: String, params: Map[String, Any] = Map.empty)
      : (CypherWrite.Stats, Option[DataFrame]) =
    synchronized {
      // schema DDL first: `CREATE CONSTRAINT …` (the reference's
      // bootstrap, graph_constraints.py) registers the label's keys
      // and is a zero-stat statement — no graph rows move
      val ddl = CypherParser.parseConstraintDdl(stmt)
      if (ddl.isDefined) {
        registerConstraint(ddl.get)
        return (CypherWrite.Stats(0, 0, 0, 0), None)
      }
      CypherParser.parseAny(stmt) match {
        case Left(w) =>
          ensureProbeIndex()
          val keyView = if (bktV.isDefined) None else Some(new keyIdx.View(g))
          val hintOpt =
            if (bktV.isDefined) Some(probeHint()) else keyView.map(_.hint)
          val a = withoutConstraintPropagation(
            CypherWrite(g, w, params, labelKeys, hintOpt))
          if (bktV.isDefined) {
            // bucketed mode: the statement's exact delta-sized effect
            // (checkpointed inside the apply from PRUNED probes)
            // becomes a window segment; the standing view rebuilds at
            // bounded depth — a.graph's stacked plan is equivalent
            // but would pin the full-base probe shape
            segs :+= Seg(
              vRows = a.touched.nodeRows, vIds = a.touched.nodeIds,
              vDead = a.touched.deletedNodeIds,
              eRows = a.touched.edgeRows, eTriples = a.touched.edgeTriples,
              eDeadTriples = a.touched.deletedEdgeTriples,
              eDeadEndpoints = a.touched.detachedNodeIds)
            g = rebuildBucketedView()
          } else {
            g = a.graph
            window ::= a.touched
          }
          if (liveRows >= 0) liveRows += GraphStore.netRows(a.stats)
          writesSinceCompact += 1
          // each statement stacks one broadcast join AND one union on
          // the standing frames: even one unfolded layer re-runs its
          // broadcast builds in every later probe, read and fold, so an
          // unbucketed store folds after EVERY write. A bucketed
          // store's segments are delta-sized at bounded plan depth;
          // they collapse every 8 writes.
          if (bktV.isEmpty || writesSinceCompact >= 8) compact()
          // the statement applied and folded: its index changes land
          keyView.foreach(v => withoutConstraintPropagation(v.commit(a.touched)))
          (a.stats, a.rows)
        case Right(_) => throw new IllegalArgumentException(
          "read query passed to execute(); use cypher()")
      }
    }

  /** Apply one parsed-or-text WRITE statement against an arbitrary
    * graph snapshot (an explicit transaction's fork) using THIS
    * store's label keys, without touching the standing graph. The
    * Bolt server builds `BEGIN…COMMIT` on it: statements apply to the
    * fork (so the transaction reads its own writes), and [[commitTx]]
    * swaps the fork in atomically. */
  def executeOn(g0: PropertyGraph, stmt: String,
                params: Map[String, Any] = Map.empty)
      : (PropertyGraph, CypherWrite.Stats, Option[DataFrame]) =
    if (CypherParser.parseConstraintDdl(stmt).isDefined)
      throw new IllegalArgumentException(
        "schema statements (CREATE CONSTRAINT) are not supported " +
        "inside an explicit transaction — run them auto-commit, like " +
        "the reference's bootstrap (graph_constraints.py)")
    else CypherParser.parseAny(stmt) match {
      case Left(w) =>
        val a = withoutConstraintPropagation(
          CypherWrite(g0, w, params, labelKeys))
        (a.graph, a.stats, a.rows)
      case Right(_) => throw new IllegalArgumentException(
        "read query passed to executeOn(); use cypher()")
    }

  /** Commit an explicit transaction: atomically replace the standing
    * graph with the fork's final state. The engine's write discipline
    * is single-writer (the reference drives one session pool); a
    * concurrent auto-commit writer between BEGIN and COMMIT is NOT
    * merged — the commit is last-write-wins, exactly the contract of
    * swapping in a fork. The fork's statements were not tracked, so
    * the next write's fold is a full one. */
  def commitTx(ng: PropertyGraph): Unit = synchronized {
    g = ng
    baseValid = false
    window = Nil
    writesSinceCompact = 0
    liveRows = -1L
    // the fork's statements were neither overlay- nor segment-tracked:
    // drop the probe index; the next write rebuckets from the swapped
    // graph (one index rebuild per explicit transaction — documented)
    bktV = None; bktE = None; segs = Vector.empty
    ovV = None; ovE = None; maskV = None; maskE = None; ovRows = 0L
    clearLevels()
    keyIdx.clear()
    baseV = ng.vertices; baseE = ng.edges
  }

  /** Fold: truncate the stacked write plan. An unbucketed store
    * re-checkpoints the family its last write touched
    * ([[foldTouched]]), or the whole store after an untracked
    * transaction swap ([[fullFold]]); a bucketed store collapses its
    * window segments into the overlay ([[collapseSegs]]). Every fold
    * runs here, so its cost lands in [[stats]]. */
  def compact(): Unit = synchronized {
    val t0 = System.nanoTime()
    if (bktV.isDefined) collapseSegs()
    else if (baseValid) foldTouched()
    else fullFold()
    writesSinceCompact = 0
    folds += 1
    lastFoldMs = (System.nanoTime() - t0) / 1e6
  }

  /** Fold the window (the last write) by re-checkpointing only the
    * frame families it changed — a MERGE or SET that changes no edge
    * keeps the edge base as it is, and a statement that changed
    * nothing ([[CypherWrite.Touched]] names no family) checkpoints
    * nothing. The row count comes from the
    * statements' stats, not from count jobs. The superseded base is
    * NOT unpersisted: concurrent Bolt readers may hold snapshots over
    * it, and a localCheckpoint block cannot be recomputed; the
    * ContextCleaner reclaims it once unreferenced. */
  private def foldTouched(): Unit = withoutConstraintPropagation {
    val touchesV = window.exists(t =>
      t.nodeIds.isDefined || t.deletedNodeIds.isDefined)
    val touchesE = window.exists(t => t.edgeTriples.isDefined ||
      t.deletedEdgeTriples.isDefined || t.detachedNodeIds.isDefined)
    if (touchesV) baseV = compactedFrame(g.vertices)
    if (touchesE) baseE = compactedFrame(g.edges)
    g = PropertyGraph(baseV, baseE)
    window = Nil
  }

  private def fullFold(): Unit = {
    g = compacted(g)
    baseV = g.vertices; baseE = g.edges
    liveRows = baseV.count() + baseE.count() // cheap: just checkpointed
    window = Nil; baseValid = true
  }

  private val eKeys = Seq("src", "dst", "rel")

  // ---- bucketed mode (round 14) ------------------------------------

  /** Enter bucketed mode when the standing graph outgrows
    * [[GraphStore.BucketProbeRows]] (or `forceBucketed`, for specs
    * and A/B soaks) — the one place the regime is decided. Called at
    * the top of every write while the index is absent: an unbucketed
    * store that grew past the gate at its last write switches at its
    * next. The only non-trivial work is the one-time index build. */
  private def ensureProbeIndex(): Unit =
    if (bktV.isEmpty) {
      if (liveRows < 0 && baseValid)
        liveRows = g.vertices.count() + g.edges.count()
      if (forceBucketed || liveRows > GraphStore.BucketProbeRows) {
        if (window.nonEmpty || !baseValid) fullFold()
        bucketize()
      }
    }

  /** Build the probe index: cluster the CURRENT graph by key hash —
    * one repartition shuffle per frame (the index build, the analogue
    * of Neo4j's uniqueness-constraint index behind the reference's
    * MERGE projectors), paid once per base pin and amortized over
    * every subsequent statement. Requires a clean window (callers
    * fold first). */
  private def bucketize(): Unit = withoutConstraintPropagation {
    val spark = g.vertices.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val nV = g.vertices.count()
    val nE = g.edges.count()
    // Validate the id-minting convention for every DECLARED-KEY label
    // before the index goes live: bucket-pruned probes (MERGE match,
    // write-prefix MATCH) compute a row's bucket FROM
    // `label:key1:key2`, so a seed graph whose keyed-label ids violate
    // the convention would silently probe the wrong buckets (fewer
    // MATCH rows than a full scan) once the base crosses
    // BucketProbeRows. One aggregate pass, paid alongside the index
    // build's own count+repartition scans; loud failure beats the
    // silent divergence.
    if (!idConventionChecked && labelKeys.nonEmpty &&
        g.vertices.schema("props").dataType.isInstanceOf[MapType]) {
      idConventionChecked = true // engine-minted rows conform; the
      // O(store) check pays once, on the SEED graph's first index
      val checks = labelKeys.toSeq.sortBy(_._1).map { case (l, ks) =>
        val expect = concat_ws(":",
          (lit(l) +: ks.map(k => col("props").getItem(k).cast("string")))
            : _*)
        // validate only rows that STORE their key props: the assembly
        // layout (GraphAssembly.verticesMapProps) legitimately keeps
        // key columns OUT of the props map — the id alone carries the
        // key there, and nothing can contradict it
        val bad = ks.map(k => col("props").getItem(k).isNotNull)
          .foldLeft(col("id") =!= expect)(_ && _)
        sum(when(col("label") === l && bad, 1L).otherwise(0L)).as(l)
      }
      val row = g.vertices.agg(checks.head, checks.tail: _*).collect()(0)
      labelKeys.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((l, ks), i) =>
        val n = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (n > 0) throw new IllegalStateException(
          s"GraphStore key index: $n :$l row(s) violate the id " +
          s"convention id = '$l:${ks.mkString(":")}' (non-null key " +
          "props joined by ':') — keyed-label stores require " +
          "convention-conforming seed graphs (GraphAssembly mints " +
          "them); fix the seed or drop the label's declared keys")
      }
    }
    bktV = Some(BucketedFrame.build(g.vertices, Seq("id"),
      BucketedFrame.bucketCountFor(nV, par)))
    bktE = Some(BucketedFrame.build(g.edges, Seq("src"),
      BucketedFrame.bucketCountFor(nE, par)))
    baseV = bktV.get.df; baseE = bktE.get.df
    liveRows = nV + nE
    ovV = None; ovE = None; maskV = None; maskE = None
    ovRows = 0L; window = Nil; segs = Vector.empty; baseValid = true
    clearLevels()
    keyIdx.clear() // the bucketed regime probes through the buckets
    g = PropertyGraph(baseV, baseE)
  }

  /** The pruned standing views the write apply probes through. The
    * memo collapses repeat probes on the SAME key frame (the apply
    * probes delta ids two or three times) to one bucket collect. */
  private def probeHint(): CypherWrite.ProbeHint = {
    val memoV = new java.util.IdentityHashMap[DataFrame, DataFrame]
    val memoE = new java.util.IdentityHashMap[DataFrame, DataFrame]
    CypherWrite.ProbeHint.Pruned(
      vertices = keys => memoV.computeIfAbsent(keys, { k =>
        val bset = bktV.get.bucketsOf(k)
        bucketedVertexView(bktV.get.prunedBySet(bset),
          lvlV.map(_.prunedBySet(bset)))
      }),
      edgesBySrc = keys => memoE.computeIfAbsent(keys, { k =>
        val bset = bktE.get.bucketsOf(k)
        bucketedEdgeView(bktE.get.prunedBySet(bset),
          lvlE.map(_.prunedBySet(bset)))
      }))
  }

  private def orUnion(a: Option[DataFrame],
                      b: Option[DataFrame]): Option[DataFrame] = (a, b) match {
    case (Some(x), Some(y)) => Some(x.unionByName(y))
    case (x, y) => x.orElse(y)
  }

  /** The standing vertex view over an arbitrary base frame (the full
    * bucketed base, or a bucket-pruned slice of it): base minus the
    * collapsed mask minus every segment's touched/dead ids, plus the
    * collapsed overlay and each segment's rows — newer segments
    * supersede older rows. Kill sets apply as SUFFIX UNIONS (one
    * broadcast anti join per layer, O(segs) broadcasts per view) —
    * the naive per-seg chain was O(segs²) broadcast-build jobs per
    * probe and dominated the seeded soak's per-statement cost. */
  private def bucketedVertexView(base: DataFrame,
                                 lvls: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def minus(df: DataFrame, ids: Option[DataFrame]): DataFrame =
      ids.fold(df)(x => df.join(broadcast(x), Seq("id"), "left_anti"))
    // suf(i) = ids touched/deleted by segs i..n-1 (tiny frames)
    val n = segs.length
    val suf = new Array[Option[DataFrame]](n + 1)
    suf(n) = None
    for (i <- (n - 1) to 0 by -1)
      suf(i) = orUnion(
        orUnion(segs(i).vIds, segs(i).vDead), suf(i + 1))
    val basePart = minus(base, orUnion(maskV, suf(0)))
    // level rows die by the SHARED post-promotion kill set (levels are
    // mutually disjoint, so one set serves all) plus the window's
    // — maskV masks only BASE rows, never level rows
    val lvlKill = orUnion(lvlKillV, suf(0))
    val lvlParts = lvls.map(minus(_, lvlKill))
    val ovPart = ovV.map(minus(_, suf(0)))
    val segLayers = segs.zipWithIndex.flatMap { case (s, i) =>
      s.vRows.map(minus(_, suf(i + 1)))
    }
    (Seq(basePart) ++ lvlParts ++ ovPart ++ segLayers)
      .reduce(_ unionByName _)
      .select(baseV.columns.map(col).toSeq: _*)
  }

  /** Edge-side twin of [[bucketedVertexView]]: segments kill older
    * edge rows by (src,dst,rel) triple and — for DETACH — by either
    * endpoint; kill sets apply as suffix unions, same as the vertex
    * side. */
  private def bucketedEdgeView(base: DataFrame,
                               lvls: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def minus(df: DataFrame, tr: Option[DataFrame],
              ep: Option[DataFrame]): DataFrame = {
      val afterTr = tr.fold(df)(x =>
        df.join(broadcast(x), eKeys, "left_anti"))
      ep.fold(afterTr)(ids =>
        afterTr
          .join(broadcast(ids.withColumnRenamed("id", "src")),
            Seq("src"), "left_anti")
          .join(broadcast(ids.withColumnRenamed("id", "dst")),
            Seq("dst"), "left_anti"))
    }
    val n = segs.length
    val sufTr = new Array[Option[DataFrame]](n + 1)
    val sufEp = new Array[Option[DataFrame]](n + 1)
    sufTr(n) = None; sufEp(n) = None
    for (i <- (n - 1) to 0 by -1) {
      sufTr(i) = orUnion(
        orUnion(segs(i).eTriples, segs(i).eDeadTriples), sufTr(i + 1))
      sufEp(i) = orUnion(segs(i).eDeadEndpoints, sufEp(i + 1))
    }
    val basePart = minus(base, orUnion(maskE, sufTr(0)), sufEp(0))
    val lvlParts = lvls.map(minus(_,
      orUnion(lvlKillETr, sufTr(0)), orUnion(lvlKillEEp, sufEp(0))))
    val ovPart = ovE.map(minus(_, sufTr(0), sufEp(0)))
    val segLayers = segs.zipWithIndex.flatMap { case (s, i) =>
      s.eRows.map(minus(_, sufTr(i + 1), sufEp(i + 1)))
    }
    (Seq(basePart) ++ lvlParts ++ ovPart ++ segLayers)
      .reduce(_ unionByName _)
      .select(baseE.columns.map(col).toSeq: _*)
  }

  private def rebuildBucketedView(): PropertyGraph =
    PropertyGraph(bucketedVertexView(baseV, lvlV.map(_.df)),
      bucketedEdgeView(baseE, lvlE.map(_.df)))

  /** Collapse the window segments into the overlay + mask with
    * BUCKET-PRUNED probes — work proportional to the window's touched
    * rows plus the overlay, never the base. The base is re-written
    * only when the overlay outgrows its broadcast budget (one
    * rebucketize per ~[[GraphStore.OverlayFoldRows]] touched rows). */
  private def collapseSegs(): Unit = if (segs.nonEmpty)
    withoutConstraintPropagation {
      import org.apache.spark.sql.functions.broadcast
      // ONE partition everywhere here: the overlay/mask frames are
      // bounded by the broadcast budget (<= 2^18 keyed rows) and are
      // re-read by every subsequent probe's broadcast build — 1-task
      // jobs keep the per-statement job fan-out flat
      def ckpt(df: DataFrame): DataFrame =
        df.coalesce(1).localCheckpoint(true)
      def unionAll(fs: Seq[DataFrame]): Option[DataFrame] =
        fs.reduceOption(_ unionByName _)
      val nonEmpty: Option[DataFrame] => Option[DataFrame] =
        _.filter(df => df.count() > 0)

      // ---- vertices: touched/dead ids across the window ------------
      val idsAll = unionAll(segs.flatMap(s => Seq(s.vIds, s.vDead).flatten))
        .map(_.distinct().coalesce(1).localCheckpoint(true))
      idsAll.foreach { ids =>
        val bset = bktV.get.bucketsOf(ids)
        val prunedBase = bktV.get.prunedBySet(bset)
        // live rows for the window's ids — via the PRUNED view
        val newRows = bucketedVertexView(prunedBase,
            lvlV.map(_.prunedBySet(bset)))
          .join(broadcast(ids), Seq("id"), "left_semi")
        val keptOv = ovV.map(_.join(broadcast(ids), Seq("id"), "left_anti"))
        ovV = Some(ckpt(keptOv.fold(newRows)(_ unionByName newRows)))
        // base rows those ids supersede/delete — pruned probe
        val newMask = prunedBase.select(col("id"))
          .join(broadcast(ids), Seq("id"), "left_semi")
        maskV = nonEmpty(Some(ckpt(
          maskV.fold(newMask)(_ unionByName newMask).distinct())))
        // stale LEVEL copies die via the shared post-promotion kill set
        if (lvlV.nonEmpty)
          lvlKillV = Some(ckpt(
            lvlKillV.fold(ids)(_ unionByName ids).distinct()))
      }

      // ---- edges ----------------------------------------------------
      val trAll = unionAll(
        segs.flatMap(s => Seq(s.eTriples, s.eDeadTriples).flatten))
        .map(_.distinct().coalesce(1).localCheckpoint(true))
      val epAll = unionAll(segs.flatMap(_.eDeadEndpoints))
        .map(_.distinct().coalesce(1).localCheckpoint(true))
      if (trAll.isDefined || epAll.isDefined) {
        val newRows = trAll.map { tr =>
          val bset = bktE.get.bucketsOf(tr)
          bucketedEdgeView(bktE.get.prunedBySet(bset),
              lvlE.map(_.prunedBySet(bset)))
            .join(broadcast(tr), eKeys, "left_semi")
        }
        var keptOv = trAll.foldLeft(ovE)((cur, tr) =>
          cur.map(_.join(broadcast(tr), eKeys, "left_anti")))
        epAll.foreach { ids =>
          keptOv = keptOv.map(
            _.join(broadcast(ids.withColumnRenamed("id", "src")),
                Seq("src"), "left_anti")
              .join(broadcast(ids.withColumnRenamed("id", "dst")),
                Seq("dst"), "left_anti"))
        }
        ovE = ((keptOv, newRows) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }).map(ckpt)
        // mask: base triples superseded/deleted. Triple and src-side
        // endpoint kills prune through the src index; the dst side of
        // a DETACH prunes through the LAZY dst index (round 15 —
        // previously the one probe that scanned the full base)
        val newMaskTr = trAll.map(tr =>
          bktE.get.pruned(tr).select(eKeys.map(col): _*)
            .join(broadcast(tr), eKeys, "left_semi"))
        val newMaskEp = epAll.map { ids =>
          bktE.get.pruned(ids.withColumnRenamed("id", "src"))
            .select(eKeys.map(col): _*)
            .join(broadcast(ids.withColumnRenamed("id", "src")),
              Seq("src"), "left_semi")
            .unionByName(dstIndex()
              .pruned(ids.withColumnRenamed("id", "dst"))
              .select(eKeys.map(col): _*)
              .join(broadcast(ids.withColumnRenamed("id", "dst")),
                Seq("dst"), "left_semi"))
        }
        val addMask = (newMaskTr, newMaskEp) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
        addMask.foreach { m =>
          maskE = nonEmpty(Some(ckpt(
            maskE.fold(m)(_ unionByName m).distinct())))
        }
        // stale LEVEL copies die via the shared post-promotion kills
        if (lvlE.nonEmpty) {
          trAll.foreach(tr => lvlKillETr = Some(ckpt(
            lvlKillETr.fold(tr)(_ unionByName tr).distinct())))
          epAll.foreach(ep => lvlKillEEp = Some(ckpt(
            lvlKillEEp.fold(ep)(_ unionByName ep).distinct())))
        }
      }

      segs = Vector.empty
      ovRows = ovV.map(_.count()).getOrElse(0L) +
        ovE.map(_.count()).getOrElse(0L)
      val dbg = sys.env.contains("GRAFT_FOLD_DEBUG")
      if (ovRows > overlayFoldRows) {
        if (math.max(lvlV.size, lvlE.size) >= GraphStore.MaxLevels) {
          // levels stacked past the bound: ONE full re-materialization
          // per ~MaxLevels × overlay-budget (~1M) touched rows
          val t0 = System.nanoTime()
          g = rebuildBucketedView()
          bucketize()
          if (dbg) System.err.println(
            f"[fold] FULL fold (MaxLevels) in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        } else {
          // LSM promotion: the overlay becomes a new bucketed level —
          // O(overlay) repartition; the base is never touched
          val t0 = System.nanoTime()
          promoteOverlay()
          g = rebuildBucketedView()
          if (dbg) System.err.println(
            f"[fold] promoted overlay -> level ${lvlV.size}/${lvlE.size} " +
            f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } else g = rebuildBucketedView()
    }

  /** Promote the overflowing overlay to a new bucketed LEVEL at the
    * base's modulus. Older levels are eagerly deduplicated first
    * (anti join by the promoted keys plus the kills accumulated since
    * the last promotion — a narrow, partitioning-preserving rewrite
    * of ≤ overlay-budget rows per level), so levels stay mutually
    * disjoint and the shared kill sets reset to empty. */
  private def promoteOverlay(): Unit = withoutConstraintPropagation {
    import org.apache.spark.sql.functions.broadcast
    def ckpt1(df: DataFrame): DataFrame =
      df.coalesce(1).localCheckpoint(true)
    // ---- vertices ---------------------------------------------------
    val killIds = orUnion(lvlKillV, ovV.map(_.select(col("id"))))
      .map(k => ckpt1(k.distinct()))
    if (killIds.isDefined && lvlV.nonEmpty)
      lvlV = lvlV.map(lf => BucketedFrame(
        lf.df.join(broadcast(killIds.get), Seq("id"), "left_anti")
          .localCheckpoint(true), lf.keyCols, lf.buckets))
    ovV.foreach(ov =>
      lvlV :+= BucketedFrame.build(ov, Seq("id"), bktV.get.buckets))
    // ---- edges ------------------------------------------------------
    val killTr = orUnion(lvlKillETr, ovE.map(_.select(eKeys.map(col): _*)))
      .map(k => ckpt1(k.distinct()))
    if ((killTr.isDefined || lvlKillEEp.isDefined) && lvlE.nonEmpty)
      lvlE = lvlE.map { lf =>
        var kept = killTr.fold(lf.df)(tr =>
          lf.df.join(broadcast(tr), eKeys, "left_anti"))
        lvlKillEEp.foreach { ids =>
          kept = kept
            .join(broadcast(ids.withColumnRenamed("id", "src")),
              Seq("src"), "left_anti")
            .join(broadcast(ids.withColumnRenamed("id", "dst")),
              Seq("dst"), "left_anti")
        }
        BucketedFrame(kept.localCheckpoint(true), lf.keyCols, lf.buckets)
      }
    ovE.foreach(ov =>
      lvlE :+= BucketedFrame.build(ov, Seq("src"), bktE.get.buckets))
    ovV = None; ovE = None; ovRows = 0L
    lvlKillV = None; lvlKillETr = None; lvlKillEEp = None
  }

  /** The lazy dst-keyed edge-base index (see [[bktEDst]]). */
  private def dstIndex(): BucketedFrame = {
    if (bktEDst.isEmpty)
      bktEDst = Some(BucketedFrame.build(baseE, Seq("dst"),
        bktE.get.buckets))
    bktEDst.get
  }

  /** Persist the current graph as the engine's terminal lake layout
    * (gated [[graft.operators.GraphExport]]: id uniqueness + no
    * dangling endpoints enforced BEFORE any byte lands — the store's
    * own MERGE/DETACH discipline keeps both invariants, so a gate
    * failure means corrupted input, loudly). After save, the store
    * reads from the durable layout: lineage truncates to
    * label/rel-partitioned parquet scans, and a restart resumes from
    * disk via [[GraphStore.load]]. */
  def save(root: String): Unit = synchronized {
    val spark = g.vertices.sparkSession
    val (v, e) = graft.operators.GraphExport.exportGraph(
      spark, g.vertices, g.edges, root)
    g = PropertyGraph(v, e)
    // the durable layout IS the new base: overlay state resets, and
    // the probe index rebuilds lazily from the durable frames (at
    // 100 TB the durable key-partitioned layout itself is the index —
    // the in-memory rebuild is the local-mode stand-in)
    baseV = v; baseE = e
    ovV = None; ovE = None
    maskV = None; maskE = None
    bktV = None; bktE = None; segs = Vector.empty
    clearLevels()
    keyIdx.clear()
    ovRows = 0L; window = Nil; baseValid = true
    writesSinceCompact = 0
  }
}

object GraphStore {
  /** [[GraphStore.stats]]: standing rows (vertices + edges), whether
    * the bucket-pruned probe index is on, folds so far and the last
    * fold's wall time; the unbucketed key index's entries (ids plus
    * edge pairs held), and the bucketed overlay's rows and LSM level
    * count. */
  final case class StoreStats(rows: Long, bucketed: Boolean, folds: Long,
                              lastFoldMs: Double, indexEntries: Long,
                              overlayRows: Long, levels: Int)

  /** The unbucketed store's driver-resident key index: per MERGE/CREATE
    * label `L` the standing ids equal to `L` or starting with `L:` (the
    * only ids a delta row of `L` can mint), per relationship type the
    * standing `(src, dst)` pairs. A slice is built by one collect the
    * first time a statement's delta names its family, and only written
    * families are held — bounded by the regime's [[BucketProbeRows]].
    * Guarded by the store's lock. */
  private final class KeyIndex {
    import scala.collection.mutable
    private val vIds = mutable.HashMap.empty[String, mutable.HashSet[String]]
    private val ePairs =
      mutable.HashMap.empty[String, mutable.HashSet[(String, String)]]

    def entries: Long = vIds.valuesIterator.map(_.size.toLong).sum +
      ePairs.valuesIterator.map(_.size.toLong).sum
    def clear(): Unit = { vIds.clear(); ePairs.clear() }
    private def slicesOf(id: String): Iterator[mutable.HashSet[String]] =
      vIds.iterator.collect {
        case (l, ids) if id == l || id.startsWith(l + ":") => ids
      }

    /** One statement's view over the standing graph `g`. The slices it
      * builds and the keys it creates stay pending until [[commit]], so
      * a statement that throws leaves the index as it was. */
    final class View(g: PropertyGraph) {
      private val newV = mutable.HashMap.empty[String, mutable.HashSet[String]]
      private val newE =
        mutable.HashMap.empty[String, mutable.HashSet[(String, String)]]
      private val addV = mutable.ArrayBuffer.empty[String]
      private val addE = mutable.ArrayBuffer.empty[(String, String, String)]

      val hint: CypherWrite.ProbeHint.Indexed = CypherWrite.ProbeHint.Indexed(
        vertexIds = l => vIds.getOrElse(l, newV.getOrElseUpdate(l,
          mutable.HashSet.from(g.vertices
            .filter(col("id") === l || col("id").startsWith(l + ":"))
            .select(col("id")).collect().map(_.getString(0))))),
        edgePairs = r => ePairs.getOrElse(r, newE.getOrElseUpdate(r,
          mutable.HashSet.from(g.edges
            .filter(col("rel") === r && col("src").isNotNull &&
              col("dst").isNotNull)
            .select(col("src"), col("dst")).collect()
            .map(x => (x.getString(0), x.getString(1)))))),
        created = (vs, es) => { addV ++= vs; addE ++= es })

      /** The statement applied: its built slices and created keys go
        * in, its deletions (delta-sized frames, collected only when it
        * deleted) come out — a DETACH takes its endpoints' pairs. */
      def commit(t: CypherWrite.Touched): Unit = {
        vIds ++= newV; ePairs ++= newE
        addV.foreach(id => slicesOf(id).foreach(_ += id))
        addE.foreach { case (s, d, r) => ePairs.get(r).foreach(_ += ((s, d))) }
        t.deletedNodeIds.foreach(_.collect().foreach(r =>
          Option(r.getString(0)).foreach(id => slicesOf(id).foreach(_ -= id))))
        t.deletedEdgeTriples.foreach(_.collect().foreach(r =>
          ePairs.get(r.getString(2)).foreach(_ -= ((r.getString(0), r.getString(1))))))
        t.detachedNodeIds.foreach { df =>
          val ids = df.collect().map(_.getString(0)).toSet
          ePairs.valuesIterator.foreach(_.filterInPlace { case (s, d) =>
            !ids(s) && !ids(d) })
        }
      }
    }
  }

  /** Rows a statement added to the standing graph, net. */
  private def netRows(s: CypherWrite.Stats): Long =
    s.nodesCreated - s.nodesDeleted + s.relsCreated - s.relsDeleted

  /** Base size (vertex + edge rows) past which the store builds the
    * bucket-pruned probe index (round 14) and switches to segment
    * compaction: below it, full standing probes on an in-memory store
    * cost less than the index build + per-probe bucket bookkeeping;
    * above it, every row-at-a-time statement would otherwise pay 2-3
    * O(store) probe scans (SCALE.md round-13 mechanism 4 — measured
    * ~0.45 s/scan at 3.3 M map-typed rows). The only size gate
    * between the store's two regimes. */
  val BucketProbeRows: Long = 1L << 20

  /** Bucketed overlay size (vertex + edge rows) past which
    * [[GraphStore]]'s segment collapse promotes the overlay to an LSM
    * level (or, once [[MaxLevels]] have stacked, re-materializes the
    * store): the overlay rides broadcast joins, so it must stay
    * comfortably under the broadcast budget; a quarter-million keyed
    * rows is a few tens of MB. */
  val OverlayFoldRows: Long = 1L << 18

  /** Statement-delta size up to which the write path collapses its
    * checkpointed delta frames to ONE partition (each broadcast build
    * re-reads the frame as a job — one task beats 32 near-empty ones
    * for wire-sized batches), and up to which the UNWIND bind frame
    * stays on the driver-local single partition. Past it, deltas keep
    * natural partitioning and the bind frame is spread across the
    * default parallelism — a 150k-row streaming batch serialized its
    * entire per-row derivation and checkpoint through one task under
    * the old cutoff (= [[OverlayFoldRows]], 32x too high; r17). */
  val SinglePartitionDeltaRows: Long = 1L << 13

  /** Levels the LSM fold may stack before the store re-materializes
    * fully: each level holds ≈ one overlay budget of rows, so the
    * O(store) full fold amortizes over ~MaxLevels × OverlayFoldRows
    * (~1M) touched rows — and each extra level costs one pruned-slice
    * union branch + one broadcast anti join per probe, so the bound
    * stays small. */
  val MaxLevels: Int = 4

  /** Run `f` with Catalyst constraint propagation OFF, restoring the
    * previous setting when the LAST concurrent caller on the session
    * exits. Why OFF: every write statement stacks a union + join layer
    * on the standing frames, and Union CONSTRAINTS are the OR of the
    * children's — worse, `localCheckpoint` bakes the accumulated
    * constraint set into the new LogicalRDD's origin constraints, so
    * the OR snowballs ACROSS compactions and every later statement's
    * optimizer pass re-sorts and re-folds a constraint expression that
    * grows with total statement count (round-12 soak: per-statement
    * cost crept 0.65 → 1.5 s inside 300 statements with jstack samples
    * pinned in Or.orderCommutative / ConstraintHelper). Constraint
    * inference buys nothing on these param-sized write plans; reads
    * outside the write path keep it.
    *
    * Why REFERENCE-COUNTED and session-keyed (round 13, advisor): the
    * old per-call save/restore raced — executeOn runs on Bolt
    * connection threads without the store lock, so two interleaved
    * callers could each record the other's transient "false" as the
    * previous value and leave propagation permanently disabled for
    * all later reads. The counter makes restore happen exactly once,
    * at the true outermost exit, with the true pre-toggle value. A
    * read compiled concurrently with a write still sees the flag off
    * (the conf is session-global) — harmless: constraint propagation
    * is an optimization, never a correctness input. */
  private val cpDepth = scala.collection.mutable.Map
    .empty[org.apache.spark.sql.SparkSession, (Int, Option[String])]
  private[graft] def withoutConstraintPropagation[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.constraintPropagation.enabled"
    cpDepth.synchronized {
      val (n, prev) = cpDepth.getOrElse(spark, (0, spark.conf.getOption(key)))
      if (n == 0) spark.conf.set(key, "false")
      cpDepth(spark) = (n + 1, prev)
    }
    try f finally cpDepth.synchronized {
      val (n, prev) = cpDepth(spark)
      if (n == 1) {
        cpDepth.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else cpDepth(spark) = (n - 1, prev)
    }
  }

  /** Reopen a writable store from a [[save]]d GraphExport layout. */
  def load(spark: org.apache.spark.sql.SparkSession, root: String,
           labelKeys: Map[String, Seq[String]] = Map.empty): GraphStore =
    new GraphStore(PropertyGraph(
      spark.read.parquet(s"$root/vertices"),
      spark.read.parquet(s"$root/edges")), labelKeys)
}
