package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import CypherAst._

/** Compiles the Cypher WRITE subset ([[CypherAst.WriteQuery]]) to a
  * set-wise update of a [[PropertyGraph]] — the statement surface of
  * the reference's projectors (`MERGE (f:Field {field_id: $id}) SET
  * f.name = $name …`, `MATCH …, … MERGE (a)-[:R]->(b)`, the batched
  * `UNWIND $rows AS row MERGE …`; app/graph_fields.py:14-45,
  * graph_weather_day.py:230-257) executed by the engine's own MERGE
  * machinery instead of row-at-a-time statements:
  *
  *   - a statement's UNWIND/MATCH prefix binds through the READ
  *     compiler (identical semantics to queries);
  *   - every node MERGE/CREATE/SET in the statement contributes one
  *     row per bound frame row to a small NODE DELTA
  *     `(id, label, pat, oncreate, onmatch, always)` — the delta is
  *     deduplicated by id and materialized eagerly (it is
  *     param/match-sized, not graph-sized);
  *   - the delta applies to the standing vertex table with ONE
  *     full-outer join on id — AQE broadcasts the delta side, so the
  *     100 TB vertex table never shuffles and untouched rows stream
  *     through unchanged. Matched rows get `props ⊕ onmatch ⊕ always`
  *     (⊕ = per-key map upsert, null value REMOVES the key — the
  *     openCypher `SET n.x = null` contract); created rows get
  *     `pat ⊕ oncreate ⊕ always`;
  *   - relationship MERGE deduplicates on the (src, dst, rel) triple
  *     identity and appends only the missing triples (one anti join)
  *     — re-running any statement is a FIXPOINT, the reference's core
  *     idempotence guarantee.
  *
  * Writes require the STRUCTURED props layout (`map<string,string>`,
  * [[graft.domain.GraphAssembly.verticesMapProps]]); node identity is
  * `label:key1:key2` using the per-label key columns declared on the
  * [[GraphStore]] (the engine's spelling of the reference's
  * uniqueness constraints, app/graph_constraints.py:2-133) — labels
  * without a declared key use the MERGE pattern's prop names, sorted.
  * Non-key pattern props act as set-on-create (the reference never
  * puts non-key props in a MERGE pattern).
  */
object CypherWrite {

  final case class Stats(nodesCreated: Long, nodesMatched: Long,
                         relsCreated: Long, relsMatched: Long,
                         nodesDeleted: Long = 0L, relsDeleted: Long = 0L) {
    def +(o: Stats): Stats = Stats(nodesCreated + o.nodesCreated,
      nodesMatched + o.nodesMatched, relsCreated + o.relsCreated,
      relsMatched + o.relsMatched, nodesDeleted + o.nodesDeleted,
      relsDeleted + o.relsDeleted)
    def toWireMap: Map[String, Any] = Map(
      "nodes-created" -> nodesCreated, "nodes-matched" -> nodesMatched,
      "relationships-created" -> relsCreated,
      "relationships-matched" -> relsMatched,
      "nodes-deleted" -> nodesDeleted,
      "relationships-deleted" -> relsDeleted)
  }

  /** Substitute `Var(alias) → replacement` through an expression tree
    * — the CONST-lets desugar of the inline WITH tail (round 15):
    * `WITH ie, $end AS endp … SET ie.end_datetime = datetime(endp)`
    * compiles with `endp` replaced by `$end`, because temporal and
    * pattern-prop positions render their argument at COMPILE time
    * ([[CypherCompiler.renderTemporal]] via `constValue`) — a frame
    * column cannot feed them. */
  private def substE(e: Expr, m: Map[String, Expr]): Expr = e match {
    case Var(v) => m.getOrElse(v, e)
    case ToInt(x) => ToInt(substE(x, m))
    case ToFloat(x) => ToFloat(substE(x, m))
    case Coalesce(es) => Coalesce(es.map(substE(_, m)))
    case StrFn(n, args) => StrFn(n, args.map(substE(_, m)))
    case TemporalFn(k, x) => TemporalFn(k, substE(x, m))
    case CaseWhen(bs, o) =>
      CaseWhen(bs.map { case (c, v) => (substE(c, m), substE(v, m)) },
        o.map(substE(_, m)))
    case AggFn(n, d, a, x) =>
      AggFn(n, d, a.map(substE(_, m)), x.map(substE(_, m)))
    case Cmp(op, l, r) => Cmp(op, substE(l, m), substE(r, m))
    case Arith(op, l, r) => Arith(op, substE(l, m), substE(r, m))
    case IsNull(x, n) => IsNull(substE(x, m), n)
    case InList(x, vs) => InList(substE(x, m), vs)
    case StrPred(op, l, r) => StrPred(op, substE(l, m), substE(r, m))
    case And(l, r) => And(substE(l, m), substE(r, m))
    case Or(l, r) => Or(substE(l, m), substE(r, m))
    case Not(x) => Not(substE(x, m))
    // lambda forms (round 15): the bound variable shadows any outer
    // alias of the same name inside the body
    case ListComp(v, l, w, proj) =>
      ListComp(v, substE(l, m), w.map(substE(_, m - v)),
        proj.map(substE(_, m - v)))
    case Reduce(acc, init, v, l, body) =>
      Reduce(acc, substE(init, m), v, substE(l, m),
        substE(body, m - acc - v))
    case Quant(k, v, l, pred) =>
      Quant(k, v, substE(l, m), substE(pred, m - v))
    case other => other
  }
  private def substNp(np: NodePat, m: Map[String, Expr]): NodePat =
    np.copy(props = np.props.map { case (k, v) => k -> substE(v, m) })
  private def substPath(p: PathPat, m: Map[String, Expr]): PathPat =
    p.copy(nodes = p.nodes.map(substNp(_, m)),
      edges = p.edges.map(ep =>
        ep.copy(props = ep.props.map { case (k, v) => k -> substE(v, m) })))
  private def substMp(mp: MatchPart, m: Map[String, Expr]): MatchPart =
    mp.copy(paths = mp.paths.map(substPath(_, m)),
      where = mp.where.map(substE(_, m)))
  private def substSi(si: SetItem, m: Map[String, Expr]): SetItem =
    si.copy(value = substE(si.value, m))
  private def substWc(c: WriteClause, m: Map[String, Expr]): WriteClause =
    c match {
      case mn: MergeNode => mn.copy(pat = substNp(mn.pat, m),
        onCreate = mn.onCreate.map(substSi(_, m)),
        onMatch = mn.onMatch.map(substSi(_, m)),
        always = mn.always.map(substSi(_, m)))
      case mr: MergeRel => mr.copy(path = substPath(mr.path, m),
        onCreate = mr.onCreate.map(substSi(_, m)),
        onMatch = mr.onMatch.map(substSi(_, m)),
        always = mr.always.map(substSi(_, m)))
      case Create(paths) => Create(paths.map(substPath(_, m)))
      case SetOnly(items) => SetOnly(items.map(substSi(_, m)))
      case f: Foreach => f.copy(list = substE(f.list, m),
        clauses = f.clauses.map(substWc(_, m)))
      case other => other
    }

  /** The delta-sized row sets one statement touched — what
    * [[GraphStore]]'s overlay compaction folds instead of
    * re-materializing the standing graph (round 13: the store-size
    * soak measured the full-store localCheckpoint every 8 statements
    * at 1.7-2.3× the empty-store per-statement cost on a 3.3M-row
    * standing graph). Every frame here is already localCheckpoint'd
    * by the apply (they are the apply's own delta/deletion sets) and
    * bounded by the statement's parameter/match size, never the
    * graph. */
  final case class Touched(
      nodeIds: Option[DataFrame],            // (id) created/updated
      edgeTriples: Option[DataFrame],        // (src,dst,rel) created/updated
      deletedNodeIds: Option[DataFrame],     // (id) plain + detach
      deletedEdgeTriples: Option[DataFrame], // (src,dst,rel) explicit
      detachedNodeIds: Option[DataFrame],    // (id) endpoint-scoped edge removal
      // POST-APPLY rows for the touched ids/triples — computed inside
      // the apply from BUCKET-PRUNED standing probes (round 14), so a
      // bucketed store can fold a statement without ever probing the
      // full standing graph. None when no [[ProbeHint]] was supplied.
      nodeRows: Option[DataFrame] = None,
      edgeRows: Option[DataFrame] = None)

  /** Store-provided bucket-pruned standing views for the apply's
    * probe passes (round 14 — SCALE.md round-13 mechanism 4: the
    * per-statement standing probes were the last O(store) term on
    * the row-at-a-time write path). Each function takes a PARAM-SIZED
    * key frame and returns the standing rows restricted to the key
    * buckets — a SUPERSET (whole buckets) of the rows matching the
    * keys, which every caller immediately semi/anti-joins down, and a
    * SUBSET of the standing frame, so probe results are unchanged.
    *
    * `vertices`: keys frame has column `id`. `edgesBySrc`: keys frame
    * has column `src`; the edge index is clustered by src only, so
    * dst-keyed probes (DETACH endpoint checks — rare) fall back to
    * the full standing frame. */
  final case class ProbeHint(
      vertices: DataFrame => DataFrame,
      edgesBySrc: DataFrame => DataFrame)

  /** One applied write statement: the post-apply graph, the Neo4j-
    * shaped counters, the statement's [[Touched]] row sets, and —
    * when the statement carried a RETURN / WITH continuation (round
    * 13) — the returned rows, projected from the statement's bound
    * rows against the POST-APPLY graph (so `MERGE … RETURN n.x` reads
    * the value the statement just wrote). */
  final case class Applied(graph: PropertyGraph, stats: Stats,
                           rows: Option[DataFrame],
                           touched: Touched = Touched(None, None, None,
                             None, None))

  private def emptyMap: Column = typedLit(Map.empty[String, String])

  /** A write-statement MATCH pattern may bind props to FRAME
    * references (`MATCH (pa:PA {id: r.app_ev_id})` under a batched
    * UNWIND — the reference's nutrient statement,
    * graph_app_nutrient_content.py:148-149,160): those are JOIN
    * conditions, not scan constants, so they lift out of the pattern
    * into the part's WHERE (`pa.id = r.app_ev_id`) — identical
    * semantics (a null ref matches nothing either way), and Catalyst
    * turns the cross-join + equality into a hash join. Literal/param
    * props stay in the pattern and keep the pruned-scan fast path. */
  private def liftFrameRefProps(parts: Seq[MatchPart]): Seq[MatchPart] =
    parts.map { mp =>
      var extra: Option[Expr] = None
      val paths = mp.paths.map { pp =>
        val nodes = pp.nodes.map { np =>
          val (refs, consts) = np.props.partition {
            case (_, _: Prop) | (_, _: Var) => true
            case _ => false
          }
          refs.foreach { case (k, e) =>
            val c: Expr = Cmp("=", Prop(np.name, k), e)
            extra = Some(extra.fold(c)(And(_, c)))
          }
          np.copy(props = consts)
        }
        pp.copy(nodes = nodes)
      }
      mp.copy(paths = paths, where = (mp.where, extra) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      })
    }

  /** Per-key map upsert: delta keys replace base keys; a null delta
    * value removes the key. All lambda higher-order functions —
    * codegen-friendly, no UDFs. */
  private def mapUpsert(base: Column, delta: Column): Column = {
    val b = coalesce(base, emptyMap)
    val d = coalesce(delta, emptyMap)
    map_filter(
      map_concat(map_filter(b, (k, _) => !map_contains_key(d, k)), d),
      (_, v) => v.isNotNull)
  }

  def apply(g: PropertyGraph, wq: WriteQuery, params: Map[String, Any],
            labelKeys: Map[String, Seq[String]],
            hint: Option[ProbeHint] = None): Applied = {
    require(g.vertices.schema("props").dataType.isInstanceOf[MapType],
      "Cypher writes require the structured props layout " +
      "(map<string,string> — GraphAssembly.verticesMapProps)")
    val spark = g.vertices.sparkSession
    // `st`/`frame` are vars: a CALL { … } tail block re-binds them to
    // the block's filtered/extended scope so the shared delta builders
    // below compile its clauses against the right rows
    // every write compile state carries the store's declared keys: a
    // MATCH pattern on a DECLARED-KEY label that binds every key prop
    // has a store-computable identity (the MERGE contract — id =
    // label:keys, the same assumption the MERGE match probe itself
    // makes), so a disconnected one crosses in as a broadcast and, on
    // a bucketed store, its scan prunes to the id's bucket instead of
    // the standing table
    def writeState(): CypherCompiler.St = {
      val s = CypherCompiler.newState(g, params)
      s.labelKeys = labelKeys
      s.prunedVertices = hint.map(_.vertices)
      s
    }
    var st = writeState()
    CypherCompiler.bindPrefix(st, g, wq.unwinds,
      liftFrameRefProps(wq.matches))
    var frame = st.frame.getOrElse(spark.range(1).toDF())

    // Driver-known cardinality bound for the bind frame: the product
    // of the UNWIND list sizes when the statement has no MATCH prefix
    // (the batched-sink idiom). None = unknown (MATCH-sized). Used to
    // gate the single-partition collapse of delta checkpoints below: a
    // wire batch (~1k rows) wants ONE partition (each broadcast build
    // re-reads the frame as a job — 1 task, not shuffle-partition
    // count), but a huge batched UNWIND must not serialize its whole
    // delta through one task.
    val frameBound: Option[Long] =
      if (wq.matches.nonEmpty) None
      else Some(wq.unwinds.foldLeft(1L) { case (n, (e, _)) => e match {
        case Param(p) => params.get(p) match {
          case Some(s: Seq[_]) => n * s.size.max(1)
          case Some(a: Array[_]) => n * a.length.max(1)
          case _ => n
        }
        case ListLit(vs) => n * vs.size.max(1)
        case _ => n
      }})
    // r17: a large parameter batch (`UNWIND $rows` from a streaming
    // sink's foreachBatch) arrives as a DRIVER-LOCAL relation — one
    // partition — so every per-row delta derivation (id concat, prop
    // map builds) upstream of the delta's groupBy ran as ONE task
    // (measured 2-3 s single-task stages per statement on a 150k-row
    // batch at 32 cores). Spread the bind frame once, deterministically
    // (round-robin repartition sorts-before-shuffling by default), when
    // the driver-known bound exceeds the wire-batch budget; delta
    // semantics are set-wise (dedup by id with a same-values contract),
    // so partitioning cannot change results.
    if (frameBound.exists(_ > GraphStore.SinglePartitionDeltaRows))
      frame = frame.repartition(spark.sparkContext.defaultParallelism)
    /** Checkpoint a statement-delta-sized frame: one partition for
      * wire-batch-sized deltas (each broadcast build re-reads the frame
      * as a job — 1 task beats shuffle-partition-count tasks), natural
      * partitioning past [[GraphStore.SinglePartitionDeltaRows]] — the
      * old cutoff (the 262k overlay-fold budget) let a 150k-row delta
      * serialize its checkpoint through one task (r17). */
    def ckptDelta(df: DataFrame): DataFrame =
      if (frameBound.forall(_ <= GraphStore.SinglePartitionDeltaRows))
        df.coalesce(1).localCheckpoint(true)
      else df.localCheckpoint(true) // AQE-coalesced partitioning

    def expr(e: Expr): Column = CypherCompiler.expr(st, e)

    /** `label:key1:key2` — the engine's vertex-id convention
      * (GraphAssembly), keys from the store's declared constraints. */
    def idExpr(np: NodePat): (Column, String, Seq[String]) = {
      val label = np.label.getOrElse(throw new IllegalArgumentException(
        s"write pattern (${np.name.trim}) needs a label — node identity " +
        "is per-label (the reference's uniqueness constraints)"))
      val keyCols = labelKeys.getOrElse(label, np.props.keys.toSeq.sorted)
      val missing = keyCols.filterNot(np.props.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"MERGE on :$label must bind its key props ${keyCols.mkString(", ")} " +
        s"(missing: ${missing.mkString(", ")})")
      // a null key value would silently collapse into a malformed id
      // (concat_ws skips nulls) — raise at delta materialization
      // instead: zero cost on the non-null path, loud on bad data
      val keyVals = keyCols.map { k =>
        val c = expr(np.props(k)).cast("string")
        when(c.isNull, raise_error(
          lit(s"null key prop $k in MERGE/CREATE on :$label")))
          .otherwise(c)
      }
      val id = concat_ws(":", (lit(label) +: keyVals): _*)
      (id, label, keyCols)
    }

    /** The reference's KEEP-EXISTING-unless-new idiom
      * (graph_fertilizer_product.py:211-230):
      *   `v.k = CASE WHEN $p IS NULL THEN v.k ELSE $p END`
      *   `v.k = coalesce($p, v.k)`
      * both mean "write the new value only when it is non-null". The
      * self-reference targets the write-bound node's STANDING props —
      * not a frame column — so it cannot compile through expr(); and a
      * null delta value would REMOVE the prop ([[mapUpsert]]), the
      * opposite semantics. Returns the new-value expression when the
      * item matches the idiom. */
    def keepExistingExpr(si: SetItem): Option[Expr] = si.value match {
      case CaseWhen(Seq((IsNull(e, false), Prop(pv, pk))), Some(e2))
          if pv == si.v && si.key.contains(pk) && e == e2 => Some(e)
      case Coalesce(Seq(e, Prop(pv, pk)))
          if pv == si.v && si.key.contains(pk) && !e.isInstanceOf[Prop]
        => Some(e)
      case _ => None
    }
    /** The reference's SET-IF-ABSENT idiom
      * (graph_soil_layer.py:224-227):
      *   `v.k = coalesce(v.k, $p)`
      * keeps an already-present prop and writes the new value only
      * where the key is missing — a separate SOFT delta channel
      * applied UNDER the standing props (the props win). */
    def setIfAbsentExpr(si: SetItem): Option[Expr] = si.value match {
      case Coalesce(Seq(Prop(pv, pk), e))
          if pv == si.v && si.key.contains(pk) => Some(e)
      case _ => None
    }
    /** SET items → one delta map column. `v.k = e` keys; `v += $m`
      * map-adds fold on top in statement order. Keep-existing items
      * land as CONDITIONAL entries (key present iff the new value is
      * non-null). */
    def setMap(items: Seq[SetItem]): Column = {
      val keyed = items.filter(_.key.isDefined)
      val adds = items.filter(_.key.isEmpty)
      val (kept, plain) = keyed.partition(si => keepExistingExpr(si).isDefined)
      val base0 =
        if (plain.isEmpty) emptyMap
        else map(plain.flatMap(si =>
          Seq(lit(si.key.get), expr(si.value).cast("string"))): _*)
      val base =
        if (kept.isEmpty) base0
        else {
          // conditional entries: key present iff the new value is
          // non-null. Merged null-PRESERVINGLY with the plain map —
          // a plain `SET n.x = null` entry is REMOVE semantics and
          // must survive to the apply ([[mapUpsert]] interprets it).
          val keptMap = map_filter(
            map(kept.flatMap(si => Seq(lit(si.key.get),
              expr(keepExistingExpr(si).get).cast("string"))): _*),
            (_, v) => v.isNotNull)
          map_concat(
            map_filter(base0, (k, _) => !map_contains_key(keptMap, k)),
            keptMap)
        }
      adds.foldLeft(base) { (acc, si) =>
        val m = si.value match {
          case Param(n) => params.getOrElse(n,
            throw new IllegalArgumentException(
              s"missing query parameter $$$n")) match {
            case mm: scala.collection.Map[_, _] =>
              typedLit(mm.map { case (k, v) =>
                String.valueOf(k) ->
                  (if (v == null) null else String.valueOf(v))
              }.toMap)
            case other => throw new IllegalArgumentException(
              s"`+=` needs a map parameter, got ${other.getClass.getSimpleName}")
          }
          case other => throw new IllegalArgumentException(
            s"`+=` supports $$param maps, got $other")
        }
        mapUpsert(acc, m)
      }
    }

    /** One node-delta row set: (id, dlabel, pat, oncreate, onmatch,
      * always) per frame row, deduplicated by id. Contract: rows of
      * one statement targeting the SAME id must carry the same SET
      * values (first() picks the survivor otherwise) — the batch
      * idiom is one row per key, which is what the reference's
      * batcher produces; Neo4j's sequential row application is not
      * reproduced within a single set-wise statement. */
    def nodeDelta(np: NodePat, onCreate: Seq[SetItem], onMatch: Seq[SetItem],
                  always: Seq[SetItem]): DataFrame = {
      val (id, label, _) = idExpr(np)
      // ALL pattern props (key props included) land in the props map:
      // in the reference's model the key IS an ordinary property
      // (field_id etc.), and a later MATCH pattern-matches on it —
      // the id carries the key REDUNDANTLY as the join/identity handle
      val pat =
        if (np.props.isEmpty) emptyMap
        else map(np.props.toSeq.flatMap { case (k, e) =>
          Seq(lit(k), expr(e).cast("string")) }: _*)
      val (soft, hard) = always.partition(si =>
        si.key.isDefined && setIfAbsentExpr(si).isDefined)
      frame.select(id.as("id"), lit(label).as("dlabel"), pat.as("pat"),
          setMap(onCreate).as("oncreate"), setMap(onMatch).as("onmatch"),
          setMap(hard).as("always"), softMap(soft).as("soft"),
          lit(null).cast("string").as("slabel"),
          lit(null).cast("string").as("unlabel"))
        .groupBy(col("id"))
        .agg(first(col("dlabel")).as("dlabel"), first(col("pat")).as("pat"),
          first(col("oncreate")).as("oncreate"),
          first(col("onmatch")).as("onmatch"),
          first(col("always")).as("always"),
          first(col("soft")).as("soft"),
          first(col("slabel"), ignoreNulls = true).as("slabel"),
          first(col("unlabel"), ignoreNulls = true).as("unlabel"))
    }

    /** Set-if-absent items → the SOFT delta map (applied UNDER the
      * final props — present keys win; see [[setIfAbsentExpr]]). */
    def softMap(items: Seq[SetItem]): Column =
      if (items.isEmpty) emptyMap
      else map(items.flatMap(si =>
        Seq(lit(si.key.get), expr(setIfAbsentExpr(si).get).cast("string")))
        : _*)

    /** SET on a MATCH-bound node variable: update-only node delta. */
    def nodeSetDelta(v: String, its: Seq[SetItem]): DataFrame = {
      val (soft, hard) = its.partition(si =>
        si.key.isDefined && setIfAbsentExpr(si).isDefined)
      frame.select(CypherCompiler.nodeId(st, v).as("id"),
          lit(null).cast("string").as("dlabel"), emptyMap.as("pat"),
          emptyMap.as("oncreate"), emptyMap.as("onmatch"),
          setMap(hard).as("always"), softMap(soft).as("soft"),
          lit(null).cast("string").as("slabel"),
          lit(null).cast("string").as("unlabel"))
        .groupBy(col("id"))
        .agg(first(col("dlabel")).as("dlabel"), first(col("pat")).as("pat"),
          first(col("oncreate")).as("oncreate"),
          first(col("onmatch")).as("onmatch"),
          first(col("always")).as("always"),
          first(col("soft")).as("soft"),
          first(col("slabel"), ignoreNulls = true).as("slabel"),
          first(col("unlabel"), ignoreNulls = true).as("unlabel"))
    }

    /** `SET v:Label` / `REMOVE v:Label` on a MATCH-bound node: a
      * label-only node delta (single-label model — see
      * [[CypherAst.SetLabel]] for the documented deviation). */
    def labelDelta(v: String, label: String, add: Boolean): DataFrame = {
      // NULL maps, not empty ones: the statement-level delta merge
      // skips nulls, so a label-only row never shadows a prop-SET row
      // targeting the same id in the same statement
      val nullMap = lit(null).cast("map<string,string>")
      frame.select(CypherCompiler.nodeId(st, v).as("id"),
          lit(null).cast("string").as("dlabel"), nullMap.as("pat"),
          nullMap.as("oncreate"), nullMap.as("onmatch"),
          nullMap.as("always"), nullMap.as("soft"),
          (if (add) lit(label) else lit(null).cast("string")).as("slabel"),
          (if (add) lit(null).cast("string") else lit(label)).as("unlabel"))
        .groupBy(col("id"))
        .agg(first(col("dlabel")).as("dlabel"), first(col("pat")).as("pat"),
          first(col("oncreate")).as("oncreate"),
          first(col("onmatch")).as("onmatch"),
          first(col("always")).as("always"),
          first(col("soft")).as("soft"),
          first(col("slabel"), ignoreNulls = true).as("slabel"),
          first(col("unlabel"), ignoreNulls = true).as("unlabel"))
    }

    /** Raise unless the standing edge table can hold relationship
      * props (a structured map column) — otherwise a rel-prop write
      * would silently drop them. */
    def requireEdgeProps(what: String): Unit = {
      if (!g.edges.columns.contains("props"))
        throw new IllegalArgumentException(
          s"$what but the edge table has no props column — the write " +
          "would silently drop them")
      if (!g.edges.schema("props").dataType.isInstanceOf[MapType])
        throw new IllegalArgumentException(
          s"$what but the edge props column is not map<string,string> " +
          "— relationship-prop writes require the structured layout")
    }

    /** SET on a MATCH-bound relationship variable: update-only edge
      * delta keyed by the (src, dst, rel) triple. */
    def edgeSetDelta(v: String, its: Seq[SetItem]): DataFrame = {
      requireEdgeProps(s"SET on relationship variable $v")
      frame.select(col(s"$v __src").as("src"), col(s"$v __dst").as("dst"),
          col(s"$v __rel").as("rel"), emptyMap.as("eprops"),
          emptyMap.as("eoncreate"), emptyMap.as("eonmatch"),
          setMap(its).as("ealways"))
        .groupBy(col("src"), col("dst"), col("rel"))
        .agg(first(col("eprops")).as("eprops"),
          first(col("eoncreate")).as("eoncreate"),
          first(col("eonmatch")).as("eonmatch"),
          first(col("ealways")).as("ealways"))
    }

    /** Relationship delta (src, dst, rel, eprops) from a single-hop
      * path whose endpoints are MATCH/statement-bound or inline
      * key-complete patterns. */
    // node vars bound by earlier MERGE/CREATE clauses IN THIS
    // statement (MERGE (c:City {…}) MERGE (p)-[:R]->(c)): their id is
    // recomputable from the pattern, so later relationship clauses
    // can reference them without a MATCH round-trip
    val writeBound = scala.collection.mutable.Map.empty[String, Column]
    // relationship vars bound by MERGE/CREATE edge patterns — their
    // (src, dst, rel) triple is recomputable, which is what a RETURN
    // continuation needs to read the written edge back
    val writeBoundRels =
      scala.collection.mutable.Map.empty[String, (Column, Column, String)]

    def relDelta(path: PathPat, onCreate: Seq[SetItem] = Nil,
                 onMatch: Seq[SetItem] = Nil,
                 always: Seq[SetItem] = Nil): DataFrame = {
      val edge = path.edges.head
      if (edge.types.size != 1) throw new IllegalArgumentException(
        "relationship MERGE/CREATE needs exactly one type")
      if (edge.undirected) throw new IllegalArgumentException(
        "an undirected relationship in a write pattern is ambiguous — " +
        "MERGE/CREATE need a direction")
      if (edge.props.nonEmpty || onCreate.nonEmpty || onMatch.nonEmpty ||
          always.nonEmpty)
        requireEdgeProps(s"relationship props on [:${edge.types.head}]")
      // ON CREATE/ON MATCH/plain SET items must target the pattern's
      // own edge variable (the only relationship this clause binds)
      (onCreate ++ onMatch ++ always).foreach { si =>
        if (si.v != edge.name) throw new IllegalArgumentException(
          s"SET target ${si.v} is not this MERGE's relationship variable")
      }
      def endpoint(np: NodePat): Column =
        if (st.nodes.contains(np.name)) {
          if (np.label.isDefined || np.props.nonEmpty)
            throw new IllegalArgumentException(
              s"bound endpoint ${np.name} cannot re-specify label/props " +
              "in a write pattern")
          CypherCompiler.nodeId(st, np.name)
        } else if (np.label.isEmpty && np.props.isEmpty &&
                   writeBound.contains(np.name))
          writeBound(np.name)
        else idExpr(np)._1
      val (from, to) =
        if (edge.out) (path.nodes.head, path.nodes(1))
        else (path.nodes(1), path.nodes.head)
      val eprops =
        if (edge.props.isEmpty) emptyMap
        else map(edge.props.toSeq.flatMap { case (k, e) =>
          Seq(lit(k), expr(e).cast("string")) }: _*)
      if (!edge.name.startsWith("  "))
        writeBoundRels(edge.name) =
          (endpoint(from), endpoint(to), edge.types.head)
      frame.select(endpoint(from).as("src"), endpoint(to).as("dst"),
          lit(edge.types.head).as("rel"), eprops.as("eprops"),
          setMap(onCreate).as("eoncreate"), setMap(onMatch).as("eonmatch"),
          setMap(always).as("ealways"))
        .groupBy(col("src"), col("dst"), col("rel"))
        .agg(first(col("eprops")).as("eprops"),
          first(col("eoncreate")).as("eoncreate"),
          first(col("eonmatch")).as("eonmatch"),
          first(col("ealways")).as("ealways"))
    }

    // ---- collect deltas across the statement's clauses -------------
    val nodeDeltas = Vector.newBuilder[DataFrame]
    val createOnlyNodes = Vector.newBuilder[DataFrame] // constraint check
    // one label mutation (SET v:L / REMOVE v:L) per variable per
    // statement: the statement-level delta merge resolves duplicates
    // with first(ignoreNulls) after a shuffle, so a second mutation on
    // the same variable would survive NONDETERMINISTICALLY — reject it
    // instead (the reference corpus never stacks them)
    val labelMutated = scala.collection.mutable.Set.empty[String]
    val relDeltas = Vector.newBuilder[DataFrame]
    // do any rel deltas update MATCHED edges (ON MATCH / plain SET)?
    // false keeps the historical append-only edge apply (one probe)
    var edgeUpdates = false
    // deletions: node ids (plain vs detach) and edge triples
    val plainDelIds = Vector.newBuilder[DataFrame]
    val detachDelIds = Vector.newBuilder[DataFrame]
    val delTriples = Vector.newBuilder[DataFrame]
    /** Inline endpoints of an edge-path write pattern that are not
      * statement-bound create their nodes (pattern-complete MERGE /
      * CREATE); bound endpoints are left untouched. Returns the node
      * deltas so CREATE can add them to the uniqueness check. */
    def inlineEndpoints(path: PathPat): Seq[DataFrame] =
      path.nodes.filter(np => !st.nodes.contains(np.name) &&
          !writeBound.contains(np.name) &&
          (np.label.isDefined || np.props.nonEmpty))
        .map { np =>
          val d = nodeDelta(np, Nil, Nil, Nil)
          nodeDeltas += d
          // a named, labeled inline endpoint is recomputable — later
          // clauses in this statement may reference it bare
          if (!np.name.startsWith("  ")) writeBound(np.name) = idExpr(np)._1
          d
        }
    def processClauses(cs: Seq[WriteClause]): Unit = cs.foreach {
      case MergeNode(pat, onCreate, onMatch, always) =>
        nodeDeltas += nodeDelta(pat, onCreate, onMatch, always)
        if (!pat.name.startsWith("  ")) writeBound(pat.name) = idExpr(pat)._1
      case SetOnly(items) =>
        items.groupBy(_.v).foreach { case (v, its) =>
          if (st.nodes.contains(v)) nodeDeltas += nodeSetDelta(v, its)
          else if (st.edgeVars.contains(v)) {
            relDeltas += edgeSetDelta(v, its)
            edgeUpdates = true
          } else throw new IllegalArgumentException(
            s"SET target $v is not a bound node or relationship variable")
        }
      case Foreach(v, listE, cs) =>
        // sub-scope: frame × list elements for the body's clauses,
        // then the OUTER scope restores — an empty list skips the
        // body without touching the statement's other rows
        // (cardinality-neutral, openCypher), and body-bound variables
        // (including write-bound ids, whose exprs reference the
        // body-only element column) go out of scope
        val stf = writeState()
        stf.valueCols ++= st.valueCols
        stf.mapVars ++= st.mapVars
        stf.arrayVars ++= st.arrayVars
        stf.pathVars ++= st.pathVars
        stf.nodes ++= st.nodes
        stf.edgeVars ++= st.edgeVars
        stf.frame = Some(frame)
        CypherCompiler.bindPrefix(stf, g, Seq((listE, v)), Nil)
        val (savedSt, savedFrame) = (st, frame)
        val savedBound = writeBound.keySet.toSet
        val savedBoundRels = writeBoundRels.keySet.toSet
        st = stf
        frame = stf.frame.getOrElse(frame)
        processClauses(cs)
        st = savedSt
        frame = savedFrame
        (writeBound.keySet.toSet -- savedBound)
          .foreach(writeBound.remove)
        (writeBoundRels.keySet.toSet -- savedBoundRels)
          .foreach(writeBoundRels.remove)
      case SetLabel(v, label, add) =>
        if (!st.nodes.contains(v)) throw new IllegalArgumentException(
          s"SET/REMOVE label target $v is not a MATCH-bound node " +
          "variable (label mutation on just-MERGEd nodes is not " +
          "supported — include the label in the MERGE pattern)")
        if (add && labelKeys.contains(label))
          throw new IllegalArgumentException(
            s"SET $v:$label — :$label has declared uniqueness keys; " +
            "node identity is minted at MERGE time, so relabeling " +
            "into a keyed label would corrupt the identity contract")
        if (!labelMutated.add(v)) throw new IllegalArgumentException(
          s"multiple SET/REMOVE label mutations on `$v` in one " +
          "statement — the survivor would be nondeterministic; " +
          "split into separate statements")
        nodeDeltas += labelDelta(v, label, add)
      case Delete(vars, detach) =>
        vars.foreach { v =>
          if (st.nodes.contains(v)) {
            val ids = frame
              .select(CypherCompiler.nodeId(st, v).as("id")).distinct()
            if (detach) detachDelIds += ids else plainDelIds += ids
          } else if (st.edgeVars.contains(v)) {
            delTriples += frame.select(col(s"$v __src").as("src"),
              col(s"$v __dst").as("dst"), col(s"$v __rel").as("rel"))
              .distinct()
          } else throw new IllegalArgumentException(
            s"DELETE target $v is not a bound node or relationship variable")
        }
      case MergeRel(path, onCreate, onMatch, always) =>
        inlineEndpoints(path)
        if (onMatch.nonEmpty || always.nonEmpty) edgeUpdates = true
        relDeltas += relDelta(path, onCreate, onMatch, always)
      case Create(paths) =>
        paths.foreach { path =>
          if (path.edges.isEmpty) {
            val np = path.nodes.head
            val d = nodeDelta(np, Nil, Nil, Nil)
            nodeDeltas += d
            createOnlyNodes += d.select(col("id"))
            if (!np.name.startsWith("  ")) writeBound(np.name) = idExpr(np)._1
          } else {
            if (path.edges.length != 1 || path.edges.head.range.isDefined)
              throw new IllegalArgumentException(
                "CREATE supports one fixed-length relationship per path")
            // CREATE-always-creates: an inline endpoint whose id
            // already exists violates the declared uniqueness exactly
            // like the node-only CREATE form — loud, never a silent
            // MERGE fallback
            inlineEndpoints(path).foreach(d =>
              createOnlyNodes += d.select(col("id")))
            relDeltas += relDelta(path)
          }
        }
    }
    processClauses(wq.clauses)

    // ---- CALL { … } tail block (round 14): conditional writes ------
    // The block's clauses contribute to the SAME statement's deltas,
    // over the statement frame FILTERED by the block's WHERE and
    // inner-joined through its MATCH parts (rows that fail either
    // drop — the CALL cardinality contract for a tail block). The
    // block's MATCH reads the PRE-APPLY graph: its pattern must not
    // depend on nodes this same statement creates (the reference's
    // idiom matches a dimension node written by an earlier projector,
    // graph_app_nutrient_content.py:158-161); write-bound variables
    // from the statement's own MERGEs join by recomputed id instead.
    wq.call.foreach { cb =>
      val stc = writeState()
      stc.valueCols ++= st.valueCols
      stc.mapVars ++= st.mapVars
      stc.arrayVars ++= st.arrayVars
      stc.pathVars ++= st.pathVars
      stc.nodes ++= st.nodes
      stc.edgeVars ++= st.edgeVars
      var f2 = frame
      writeBound.foreach { case (v, idc) =>
        if (!st.nodes.contains(v)) {
          f2 = f2.withColumn(s"$v __id", idc)
          stc.nodes += v
        }
      }
      stc.frame = Some(f2)
      // computed WITH items (`$end AS endp` — round 15, the inline
      // tail spelling). A CONST alias (param/literal) SUBSTITUTES
      // into the block's AST — downstream `datetime(endp)` and
      // pattern-prop positions need the compile-time value, not a
      // frame column (the irrigation end-datetime idiom,
      // graph_irrigation_event.py:323-328). A computed alias lands as
      // a value column like any WITH projection.
      val (constLets, colLets) = cb.lets.partition(_._2 match {
        case _: Param | _: Lit => true
        case _ => false
      })
      val sub = constLets.toMap
      val cbS = if (sub.isEmpty) cb else cb.copy(
        where = cb.where.map(substE(_, sub)),
        matches = cb.matches.map(substMp(_, sub)),
        clauses = cb.clauses.map(substWc(_, sub)))
      colLets.foreach { case (a, e) =>
        val c = CypherCompiler.expr(stc, e)
        val cn = s"$a __val"
        stc.frame = Some(stc.frame.get.withColumn(cn, c))
        stc.valueCols += a -> cn
      }
      cbS.where.foreach { w =>
        stc.frame = Some(stc.frame.get.filter(CypherCompiler.expr(stc, w)))
      }
      CypherCompiler.bindPrefix(stc, g, Nil, liftFrameRefProps(cbS.matches))
      st = stc
      frame = stc.frame.getOrElse(f2)
      processClauses(cbS.clauses)
    }

    // ---- apply node deltas: broadcast probes ONLY -------------------
    // The standing vertex table must NEVER shuffle for a write: a
    // full-outer join cannot broadcast a side (Spark has no broadcast
    // full-outer hash join), so the apply is decomposed into
    //   1. matchedIds  = existing ⋉ broadcast(deltaIds)   (one probe)
    //   2. updated     = existing ⟕ broadcast(delta)      (one probe)
    //   3. created     = delta ▷ broadcast(matchedIds)    (tiny ⋈ tiny)
    // — two broadcast-probe passes over the standing table, zero
    // exchanges on it (CypherWriteSpec pins the plan shape).
    var stats = Stats(0, 0, 0, 0)
    var touchedNodeIds: Option[DataFrame] = None
    var touchedTriples: Option[DataFrame] = None
    var deletedNodeIds: Option[DataFrame] = None
    var deletedTriples: Option[DataFrame] = None
    var detachedIds: Option[DataFrame] = None
    // the vertex-side plan as a FUNCTION of the standing frame: every
    // layer (merge upsert, deletion anti joins) composes here, so a
    // probe that only needs delta-sized output can evaluate the same
    // layers over a BUCKET-PRUNED standing base (round 14) while the
    // full standing view applies them to g.vertices unchanged
    var vertexView: DataFrame => DataFrame = identity
    /** Standing vertices for a probe keyed by `keys` (col `id`):
      * bucket-pruned when the store supplied a hint, the full frame
      * otherwise. Superset of the matching rows either way. */
    def standingV(keys: => DataFrame): DataFrame =
      hint.map(_.vertices(keys)).getOrElse(g.vertices)
    val nds = nodeDeltas.result()
    if (nds.nonEmpty) {
      // delta is param/match-sized: materialize it eagerly so the
      // stats counts and the standing-graph plan reference a local
      // truncated lineage, not a recompute of the whole bind
      // ignoreNulls everywhere: label-only delta rows carry NULL maps
      // so they can never shadow a prop-carrying row for the same id
      val delta = nds.reduce(_ unionByName _)
        .groupBy(col("id"))
        .agg(first(col("dlabel"), ignoreNulls = true).as("dlabel"),
          first(col("pat"), ignoreNulls = true).as("pat"),
          first(col("oncreate"), ignoreNulls = true).as("oncreate"),
          first(col("onmatch"), ignoreNulls = true).as("onmatch"),
          first(col("always"), ignoreNulls = true).as("always"),
          first(col("soft"), ignoreNulls = true).as("soft"),
          first(col("slabel"), ignoreNulls = true).as("slabel"),
          first(col("unlabel"), ignoreNulls = true).as("unlabel"))
        // ONE partition (via ckptDelta): the delta is param-sized and
        // every later broadcast build re-reads it — a 1-task job
        // instead of a shuffle-partition-count job per broadcast
        .transform(ckptDelta)
      val deltaIds = delta.select(col("id"))
      touchedNodeIds = Some(deltaIds)
      // ONE probe over the (pruned) standing ids, delta-sized output
      val matchedIds = standingV(deltaIds).select(col("id"))
        .join(broadcast(deltaIds), Seq("id"), "left_semi")
        .localCheckpoint(true)
      val nMatched = matchedIds.count()
      val nTotal = delta.count()
      // declared-key CREATE constraint: creating an existing id fails.
      // matchedIds = standing ∩ delta and every create-only id is in
      // the delta, so the check is a delta-sized join — no second
      // standing probe (round 14; previously re-scanned the store)
      val cos = createOnlyNodes.result()
      if (cos.nonEmpty) {
        val dup = cos.reduce(_ unionByName _)
          .join(broadcast(matchedIds), Seq("id"), "left_semi")
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalStateException(
          s"CREATE violates uniqueness: node ${dup.head.getString(0)} " +
          "already exists (use MERGE)")
      }
      stats = stats + Stats(nTotal - nMatched, nMatched, 0, 0)
      val d = broadcast(delta.withColumn("__d", lit(true)))
      val created = delta
        .join(broadcast(matchedIds), Seq("id"), "left_anti")
        .select(col("id"), col("dlabel").as("label"),
          mapUpsert(col("soft"),
            mapUpsert(mapUpsert(col("pat"), col("oncreate")),
              col("always")))
            .as("props"))
      vertexView = (base: DataFrame) => {
        val updated = base.join(d, Seq("id"), "left_outer").select(
          col("id"),
          // label mutation (single-label model): SET reassigns,
          // REMOVE clears only a matching stored label
          when(col("__d").isNotNull && col("slabel").isNotNull,
              col("slabel"))
            .when(col("__d").isNotNull && col("unlabel").isNotNull &&
                col("unlabel") === col("label"), lit(null).cast("string"))
            .otherwise(col("label"))
            .as("label"),
          when(col("__d").isNotNull,
              // soft (set-if-absent) entries apply UNDER the result:
              // keys already present in the standing/updated props win
              mapUpsert(col("soft"),
                mapUpsert(mapUpsert(col("props"), col("onmatch")),
                  col("always"))))
            .otherwise(col("props"))
            .as("props"))
        updated.unionByName(created)
      }
    }

    // ---- apply relationship deltas: same broadcast-probe shape -----
    // Delta rows of one statement targeting the SAME triple keep the
    // first survivor's maps (the node-delta contract); the parser's
    // SET folding puts the common `MERGE …-[r]-… SET r.…` shape in ONE
    // delta row, so the survivor rule only bites on genuinely
    // conflicting multi-clause statements.
    // the edge-side plan as a function of the standing edge frame —
    // same discipline as vertexView
    var edgeView: DataFrame => DataFrame = identity
    /** Standing edges for a probe keyed by `keys` (col `src`):
      * bucket-pruned by src when the store supplied a hint. */
    def standingE(keys: => DataFrame): DataFrame =
      hint.map(_.edgesBySrc(keys)).getOrElse(g.edges)
    val rds = relDeltas.result()
    if (rds.nonEmpty) {
      val delta = rds.reduce(_ unionByName _)
        .groupBy(col("src"), col("dst"), col("rel"))
        .agg(first(col("eprops")).as("eprops"),
          first(col("eoncreate")).as("eoncreate"),
          first(col("eonmatch")).as("eonmatch"),
          first(col("ealways")).as("ealways"))
        .transform(ckptDelta) // param-sized, see node delta
      val keyCols = Seq("src", "dst", "rel")
      val deltaTriples = delta.select(keyCols.map(col): _*)
      touchedTriples = Some(deltaTriples)
      // which delta triples already exist: one broadcast probe over
      // the (src-bucket-pruned) standing edges, delta-sized output
      val matchedTriples = standingE(deltaTriples)
        .select(keyCols.map(col): _*)
        .join(broadcast(deltaTriples), keyCols, "left_semi")
        .localCheckpoint(true)
      val created = delta.join(broadcast(matchedTriples), keyCols,
        "left_anti")
      val nCreated = created.count()
      stats = stats + Stats(0, 0, nCreated, delta.count() - nCreated)
      val createdAligned =
        if (g.edges.columns.contains("props"))
          created.select(col("src"), col("dst"), col("rel"),
            mapUpsert(mapUpsert(col("eprops"), col("eoncreate")),
              col("ealways")).as("props"))
        else created.select(keyCols.map(col): _*)
      // ON MATCH SET / SET r.… updates: one broadcast left-outer probe
      // over the standing edges (matched triples get props ⊕ onmatch ⊕
      // always) — skipped entirely for the historical append-only
      // statements, whose standing-edge pass stays a bare union
      val dEdge = broadcast(delta.withColumn("__d", lit(true)))
      edgeView = (standing: DataFrame) => {
        val base =
          if (!edgeUpdates) standing
          else standing.join(dEdge, keyCols, "left_outer").select(
            col("src"), col("dst"), col("rel"),
            when(col("__d").isNotNull,
                mapUpsert(mapUpsert(col("props"), col("eonmatch")),
                  col("ealways")))
              .otherwise(col("props")).as("props"))
        base.unionByName(createdAligned, allowMissingColumns = true)
      }
    }

    // ---- apply deletions (after merges; one anti join per relation) -
    val eKeys = Seq("src", "dst", "rel")
    val plainDel = plainDelIds.result()
    val detachDel = detachDelIds.result()
    val triplesDel = delTriples.result()
    if (plainDel.nonEmpty || detachDel.nonEmpty || triplesDel.nonEmpty) {
      val plain = plainDel.reduceOption(_ unionByName _)
        .map(d => ckptDelta(d.distinct()))
      val detachIds = detachDel.reduceOption(_ unionByName _)
        .map(d => ckptDelta(d.distinct()))
      // one-sided statements (all-plain / all-detach — every real
      // DELETE is one of them) reuse the side's checkpoint instead of
      // re-materializing the same distinct id set a second time
      val allIds = (plain, detachIds) match {
        case (p, None) => p
        case (None, d) => d
        case (Some(p), Some(d)) =>
          Some(ckptDelta(p.unionByName(d).distinct()))
      }
      val triples = triplesDel.reduceOption(_ unionByName _)
        .map(d => ckptDelta(d.distinct()))
      // Neo4j semantics: plain DELETE of a node with attached
      // relationships fails the statement (use DETACH DELETE). The
      // probe is a delta-broadcast semi join on each endpoint, run
      // against the edges REMAINING after this same statement's
      // relationship deletions (explicit edge variables and
      // detach-scoped edges) — so the standard Neo4j idiom
      // `MATCH (a)-[r:R]->(b) DELETE r, a` succeeds when r covers all
      // of a's relationships. The src-side probe prunes through the
      // store's src index; the dst side has no index → full frame.
      plain.foreach { p =>
        def remaining(base: DataFrame): DataFrame = {
          val afterTriples = triples.fold(base)(t =>
            base.join(broadcast(t), eKeys, "left_anti"))
          detachIds.fold(afterTriples)(ids =>
            afterTriples
              .join(broadcast(ids.withColumnRenamed("id", "src")),
                Seq("src"), "left_anti")
              .join(broadcast(ids.withColumnRenamed("id", "dst")),
                Seq("dst"), "left_anti"))
        }
        val pSrc = p.withColumnRenamed("id", "src")
        val bySrc = remaining(edgeView(standingE(pSrc)))
          .join(broadcast(pSrc), Seq("src"), "left_semi").limit(1).count()
        val byDst = remaining(edgeView(g.edges))
          .join(broadcast(p.withColumnRenamed("id", "dst")),
            Seq("dst"), "left_semi").limit(1).count()
        if (bySrc + byDst > 0) throw new IllegalStateException(
          "DELETE on a node with attached relationships — use DETACH DELETE")
      }
      val nDel = allIds.map(ids =>
        ids.join(vertexView(standingV(ids)).select(col("id")),
          Seq("id"), "left_semi").count()).getOrElse(0L)
      allIds.foreach { ids =>
        val prev = vertexView
        vertexView = (b: DataFrame) =>
          prev(b).join(broadcast(ids), Seq("id"), "left_anti")
      }
      var rDel = 0L
      triples.foreach { t =>
        rDel += edgeView(standingE(t))
          .join(broadcast(t), eKeys, "left_semi").count()
        val prev = edgeView
        edgeView = (b: DataFrame) =>
          prev(b).join(broadcast(t), eKeys, "left_anti")
      }
      // DETACH: drop every edge touching a deleted node (both ends —
      // the dst-side count probes the full frame, no dst index)
      detachIds.foreach { ids =>
        val asSrc = ids.withColumnRenamed("id", "src")
        val asDst = ids.withColumnRenamed("id", "dst")
        rDel += edgeView(standingE(asSrc))
          .join(broadcast(asSrc), Seq("src"), "left_semi")
          .unionByName(
            edgeView(g.edges).join(broadcast(asDst), Seq("dst"), "left_semi")
              .join(broadcast(asSrc), Seq("src"), "left_anti"))
          .count()
        val prev = edgeView
        edgeView = (b: DataFrame) =>
          prev(b).join(broadcast(asSrc), Seq("src"), "left_anti")
            .join(broadcast(asDst), Seq("dst"), "left_anti")
      }
      stats = stats + Stats(0, 0, 0, 0, nDel, rDel)
      deletedNodeIds = allIds
      deletedTriples = triples
      detachedIds = detachIds
    }

    // pin the column ORDER to the input graph's: Spark's using-column
    // semi/anti joins move the using columns to the front (a DETACH's
    // endpoint anti joins leave (dst, src, …)), and positional
    // consumers of store.graph must see a stable layout. Composed into
    // the view functions so pruned probes see the same layout.
    locally {
      val pv = vertexView
      vertexView = (b: DataFrame) =>
        pv(b).select(g.vertices.columns.map(col).toSeq: _*)
      val pe = edgeView
      edgeView = (b: DataFrame) =>
        pe(b).select(g.edges.columns.map(col).toSeq: _*)
    }
    val vertices = vertexView(g.vertices)
    val edges = edgeView(g.edges)

    val applied = PropertyGraph(vertices, edges)

    // post-apply rows for the statement's touched ids/triples — the
    // bucketed store's fold input (computed here, where the pruned
    // standing views exist, so the fold never probes the full store)
    val touchedNodeRows: Option[DataFrame] =
      if (hint.isEmpty) None
      else touchedNodeIds.map(ids =>
        vertexView(standingV(ids))
          .join(broadcast(ids), Seq("id"), "left_semi")
          .transform(ckptDelta))
    val touchedEdgeRows: Option[DataFrame] =
      if (hint.isEmpty) None
      else touchedTriples.map(tr =>
        edgeView(standingE(tr))
          .join(broadcast(tr), eKeys, "left_semi")
          .transform(ckptDelta))

    // ---- read continuation (round 13): RETURN / WITH after writes --
    // One row per bound frame row (openCypher: MERGE under UNWIND
    // returns one row per input row). Every node variable — MATCH-
    // bound or write-bound — is re-probed against the POST-APPLY
    // vertex table so the projection reads what the statement wrote
    // (a MATCH-bound var's frame props are pre-write). The probe
    // discipline matches the apply's: ONE broadcast-semi pass over the
    // standing table collects all referenced ids (frame-sized output,
    // localCheckpoint'd), then per-var broadcast lookups — the
    // standing graph never shuffles for a write's RETURN either.
    val rowsOpt: Option[DataFrame] = wq.returning.map { contQ =>
      val st2 = CypherCompiler.newState(applied, params)
      st2.valueCols ++= st.valueCols
      st2.mapVars ++= st.mapVars
      st2.arrayVars ++= st.arrayVars
      st2.pathVars ++= st.pathVars
      var f = frame
      writeBound.foreach { case (v, idc) =>
        if (!st.nodes.contains(v)) f = f.withColumn(s"$v __id", idc)
      }
      writeBoundRels.foreach { case (v, (srcC, dstC, rel)) =>
        if (!st.edgeVars.contains(v))
          f = f.withColumn(s"$v __src", srcC)
            .withColumn(s"$v __dst", dstC)
            .withColumn(s"$v __rel", lit(rel))
      }
      val nodeVars = (st.nodes.toSeq ++ writeBound.keys).distinct
      if (nodeVars.nonEmpty) {
        val idU = nodeVars.map(v => f.select(col(s"$v __id").as("id")))
          .reduce(_ unionByName _).distinct()
        val lookup = vertexView(standingV(idU))
          .join(broadcast(idU), Seq("id"), "left_semi")
          .localCheckpoint(true)
        nodeVars.foreach { v =>
          // left_outer: a node DELETEd by this same statement keeps
          // its returned row (null label/props), Neo4j-style
          f = f.drop(s"$v __label", s"$v __props")
            .join(broadcast(lookup.select(col("id").as(s"$v __id"),
              col("label").as(s"$v __label"),
              col("props").as(s"$v __props"))),
              Seq(s"$v __id"), "left_outer")
        }
      }
      val relVars = (st.edgeVars.toSeq ++ writeBoundRels.keys).distinct
      if (relVars.nonEmpty && st2.edgeHasProps) {
        val triU = relVars.map(v => f.select(col(s"$v __src").as("src"),
            col(s"$v __dst").as("dst"), col(s"$v __rel").as("rel")))
          .reduce(_ unionByName _).distinct()
        val elookup = edgeView(standingE(triU))
          .join(broadcast(triU), Seq("src", "dst", "rel"), "left_semi")
          .localCheckpoint(true)
        relVars.foreach { v =>
          f = f.drop(s"$v __eprops")
            .join(broadcast(elookup.select(col("src").as(s"$v __src"),
              col("dst").as(s"$v __dst"), col("rel").as(s"$v __rel"),
              col("props").as(s"$v __eprops"))),
              Seq(s"$v __src", s"$v __dst", s"$v __rel"), "left_outer")
        }
      }
      st2.nodes ++= nodeVars
      st2.edgeVars ++= relVars
      st2.frame = Some(f)
      CypherCompiler.runContinuation(st2, applied, contQ)
    }

    Applied(applied, stats, rowsOpt,
      Touched(touchedNodeIds, touchedTriples, deletedNodeIds,
        deletedTriples, detachedIds, touchedNodeRows, touchedEdgeRows))
  }
}

/** A writable property graph: holds the current [[PropertyGraph]] and
  * applies Cypher WRITE statements through [[CypherWrite]] — the
  * engine-side equivalent of the reference's Neo4j database behind
  * its session pool (app/neo4j_pool.py:6-19). `labelKeys` declares
  * per-label uniqueness keys (graph_constraints.py); statements are
  * serialized (single-writer, like every sink in the engine), reads
  * can run concurrently against the current snapshot.
  *
  * Each statement stacks one (broadcast) join + union layer on the
  * standing frames; a FOLD truncates the stack. How often, and how,
  * depends on the store:
  *
  *   - SMALL unbucketed stores (at most [[GraphStore.OverlayFoldRows]]
  *     standing rows) fold after EVERY write, re-checkpointing only
  *     the frame family (vertices / edges) the statement touched and
  *     keeping the row count from the statement's stats. An unfolded
  *     layer makes every later probe, read and fold re-run its
  *     broadcast builds, and the layers' union partitions add up
  *     (a disconnected MATCH prefix became a CartesianProduct over
  *     them); on a broadcast-sized store one eager checkpoint of the
  *     touched family costs less than what it saves (SCALE.md,
  *     per-write fold).
  *   - Every other store folds every 8 writes. Up to
  *     [[GraphStore.FullFoldBaseRows]] the fold copies the store (the
  *     round-12 full localCheckpoint) — measured cheaper than any
  *     bookkeeping while the store fits in memory. Past it, the fold
  *     maintains a delta-sized OVERLAY: `base` (the pinned
  *     initial/saved frames, NEVER re-materialized) plus materialized
  *     overlay rows + base-row masks (pre-intersected with the base at
  *     fold time, so append-mostly workloads carry NO mask stage), and
  *     the standing view is the constant-depth plan
  *     `base [▷ broadcast(mask)] ∪ overlay` — per-fold cost is a base
  *     SCAN (probe, delta-sized output), never a base WRITE. The
  *     overlay folds fully into a new base only when it outgrows
  *     [[GraphStore.OverlayFoldRows]] (or after an untracked
  *     transaction swap). Re-writing a 100 TB store every 8 statements
  *     is the one unviable design; the overlay is what keeps big-store
  *     compaction possible. Past [[GraphStore.BucketProbeRows]] the
  *     store is bucketed and folds window segments (see below).
  *   - `forceOverlay` stores (specs) and the statements after an
  *     explicit transaction's commit, up to the next full fold, keep
  *     the 8-write cadence whatever their size.
  *
  * [[stats]] snapshots the standing row count, the bucket mode and
  * the fold count and cost.
  */
final class GraphStore(initial: PropertyGraph,
                       initialLabelKeys: Map[String, Seq[String]] = Map.empty,
                       forceOverlay: Boolean = false,
                       forceBucketed: Boolean = false,
                       // overridable so specs can drive the overlay-
                       // OVERFLOW branch (rebucketize) on tiny fixtures;
                       // also the per-write fold's size gate, so a
                       // negative budget keeps a tiny store on the
                       // 8-write cadence
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
            .filter(col("label") === d.label && bad).limit(1).count())
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
  private var writesSinceCompact = 0
  /** Standing rows (vertices + edges): set by every count the store
    * makes anyway and advanced by each statement's stats in between;
    * -1 = unknown (after an untracked transaction swap, until the
    * next count). */
  private var liveRows = -1L
  private var folds = 0L
  private var lastFoldMs = 0.0
  /** One-shot: the seed graph's id-convention audit (see
    * [[bucketize]]) — engine-minted rows always conform, so the
    * O(store) scan never repeats on later rebucketizes. */
  private var idConventionChecked = false

  // ---- overlay-compaction state (round 13; all guarded by `this`) --
  private var baseV: DataFrame = initial.vertices
  private var baseE: DataFrame = initial.edges
  /** Materialized post-apply rows for every vertex/edge touched since
    * the base was pinned (created or updated). */
  private var ovV: Option[DataFrame] = None
  private var ovE: Option[DataFrame] = None
  /** Cumulative masks of base rows superseded or deleted — PRE-
    * INTERSECTED with the base at fold time (one base scan per fold),
    * so an append-mostly workload (the reference's: new day nodes
    * every statement) keeps them EMPTY and the standing view is a
    * plain `base ∪ overlay` with zero extra join stages per probe.
    * DETACH masks resolve to the base edge TRIPLES at fold time (new
    * edges to a re-created id live in the overlay — never masked). */
  private var maskV: Option[DataFrame] = None
  private var maskE: Option[DataFrame] = None
  private var ovRows = 0L
  /** Touched sets of the statements since the last fold. */
  private var window = List.empty[CypherWrite.Touched]
  /** False after an untracked graph swap ([[commitTx]]): the overlay
    * no longer describes `g` vs `base`, so the next fold is FULL. */
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

  private def compactedFrame(df: DataFrame): DataFrame =
    df.coalesce(targetParts).localCheckpoint(true)

  def graph: PropertyGraph = g

  /** A snapshot of the store's shape and fold history. `rows` is the
    * standing vertex + edge count; when the store has not counted
    * since an explicit transaction's commit (or was never counted —
    * `forceOverlay` stores), the snapshot counts it once. */
  def stats: GraphStore.StoreStats = synchronized {
    if (liveRows < 0)
      liveRows = withoutConstraintPropagation(
        g.vertices.count() + g.edges.count())
    GraphStore.StoreStats(rows = liveRows, bucketed = bktV.isDefined,
      folds = folds, lastFoldMs = lastFoldMs)
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
          val hintOpt =
            if (bktV.isDefined) Some(probeHint()) else None
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
          // the standing frames; past a handful of layers the
          // ANALYSIS/codegen cost of every subsequent probe grows
          // super-linearly (measured: a 90-statement row-at-a-time
          // replay crawled at compaction=32). Small unbucketed stores
          // fold after EVERY write ([[foldsEveryWrite]]): even one
          // unfolded layer re-runs its broadcast builds in every later
          // probe, read and fold, and a re-checkpoint of the touched
          // family is cheap at that size. Every other store folds
          // every 8 writes — that keeps row-at-a-time wire clients
          // linear; batched UNWIND statements (the scale path) rarely
          // stack past two or three.
          if (foldsEveryWrite || writesSinceCompact >= 8) compact()
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
    * swapping in a fork. The fork's statements were not overlay-
    * tracked, so the next fold is a full one. */
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
    baseV = ng.vertices; baseE = ng.edges; baseRows = -1L
  }

  /** Truncate the stacked write plan. SMALL unbucketed stores
    * ([[foldsEveryWrite]]) fold per write: only the touched frame
    * family is re-checkpointed. Otherwise stores with a base within
    * [[GraphStore.FullFoldBaseRows]] keep the round-12 full fold —
    * copying an in-memory store is cheaper than overlay bookkeeping.
    * BIG stores delta-fold: the base is scanned (probe, delta-sized
    * output) but NEVER re-written — at 100 TB a full fold would
    * re-materialize the store every 8 statements. Full fold also
    * fires when the overlay outgrows its broadcast budget or after an
    * untracked tx swap. `forceOverlay` (tests) pins the delta path
    * regardless of base size. */
  def compact(): Unit = synchronized {
    val t0 = System.nanoTime()
    if (bktV.isDefined) collapseSegs()
    else if (foldsEveryWrite) foldTouched()
    else {
      if (baseRows < 0) baseRows = baseV.count() + baseE.count()
      if (!baseValid ||
          (!forceOverlay && baseRows <= GraphStore.FullFoldBaseRows) ||
          ovRows > overlayFoldRows) fullFold()
      else deltaFold()
      // a store that GREW past the probe-index bound on the unbucketed
      // path switches modes here (state is clean right after a fold)
      if (!forceOverlay && baseRows > GraphStore.BucketProbeRows) bucketize()
    }
    writesSinceCompact = 0
    folds += 1
    lastFoldMs = (System.nanoTime() - t0) / 1e6
  }

  private var baseRows = -1L

  /** The per-write fold applies: an unbucketed store, counted at a
    * clean fold point, within the overlay budget (the instance's
    * `overlayFoldRows`, [[GraphStore.OverlayFoldRows]] by default).
    * A base this small (under [[GraphStore.FullFoldBaseRows]]) was
    * last folded fully or per write, so it carries no overlay state
    * and an untouched family's standing frame IS its base. */
  private def foldsEveryWrite: Boolean =
    bktV.isEmpty && !forceOverlay && baseValid &&
      baseRows >= 0 && baseRows <= overlayFoldRows

  /** Fold the window (one statement, on the per-write path) by
    * re-checkpointing only the frame families it touched — a MERGE or
    * SET that touches no edge keeps the edge base as it is. The row
    * count comes from the statements' stats, not from count jobs. The
    * superseded base is NOT unpersisted: concurrent Bolt readers may
    * hold snapshots over it, and a localCheckpoint block cannot be
    * recomputed; the ContextCleaner reclaims it once unreferenced. */
  private def foldTouched(): Unit = withoutConstraintPropagation {
    val touchesV = window.exists(t =>
      t.nodeIds.isDefined || t.deletedNodeIds.isDefined)
    val touchesE = window.exists(t => t.edgeTriples.isDefined ||
      t.deletedEdgeTriples.isDefined || t.detachedNodeIds.isDefined)
    if (touchesV) baseV = compactedFrame(g.vertices)
    if (touchesE) baseE = compactedFrame(g.edges)
    g = PropertyGraph(baseV, baseE)
    baseRows = liveRows
    window = Nil
  }

  private def fullFold(): Unit = {
    g = compacted(g)
    baseV = g.vertices; baseE = g.edges
    baseRows = baseV.count() + baseE.count() // cheap: just checkpointed
    liveRows = baseRows
    ovV = None; ovE = None
    maskV = None; maskE = None
    ovRows = 0L; window = Nil; baseValid = true
  }

  private val eKeys = Seq("src", "dst", "rel")

  /** Fold the window's statements into the overlay and rebuild the
    * standing view at constant plan depth. Work is proportional to
    * the overlay + one PROBE pass over the stacked view per frame
    * family — the base is scanned, never re-written. */
  private def deltaFold(): Unit = if (window.nonEmpty)
    withoutConstraintPropagation {
      val dbg = sys.env.contains("GRAFT_FOLD_DEBUG")
      val t0 = System.nanoTime()
      def mark(what: String): Unit = if (dbg)
        System.err.println(f"[fold] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val spark = g.vertices.sparkSession
      import org.apache.spark.sql.functions.{broadcast, col}
      def ckpt(df: DataFrame): DataFrame =
        df.coalesce(spark.sparkContext.defaultParallelism)
          .localCheckpoint(true)
      def unionAll(fs: Seq[DataFrame]): Option[DataFrame] =
        fs.reduceOption(_ unionByName _)
      val tV = unionAll(window.flatMap(_.nodeIds)).map(_.distinct())
      val tE = unionAll(window.flatMap(_.edgeTriples)).map(_.distinct())
      val dV = unionAll(window.flatMap(_.deletedNodeIds)).map(_.distinct())
      val dE = unionAll(window.flatMap(_.deletedEdgeTriples))
        .map(_.distinct())
      val dt = unionAll(window.flatMap(_.detachedNodeIds)).map(_.distinct())

      // vertices: post-apply rows for the window's touched ids (the
      // stacked view is the truth — a touched-then-deleted id simply
      // yields no row), replacing any older overlay copies
      val newOvV = tV.map(ids =>
        g.vertices.join(broadcast(ids), Seq("id"), "left_semi"))
      val keptOvV = Seq(tV, dV).flatten.foldLeft(ovV)((cur, ids) =>
        cur.map(_.join(broadcast(ids), Seq("id"), "left_anti")))
      ovV = ((keptOvV, newOvV) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }).map(ckpt)

      // edges: same shape; DETACH also removes overlay edges by
      // endpoint (base copies die via the triple mask below)
      val newOvE = tE.map(tr =>
        g.edges.join(broadcast(tr), eKeys, "left_semi"))
      var keptOvE = Seq(tE, dE).flatten.foldLeft(ovE)((cur, tr) =>
        cur.map(_.join(broadcast(tr), eKeys, "left_anti")))
      dt.foreach { ids =>
        keptOvE = keptOvE.map(
          _.join(broadcast(ids.withColumnRenamed("id", "src")),
              Seq("src"), "left_anti")
            .join(broadcast(ids.withColumnRenamed("id", "dst")),
              Seq("dst"), "left_anti"))
      }
      mark("ovV ckpt")
      ovE = ((keptOvE, newOvE) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }).map(ckpt)

      mark("ovE ckpt")
      // masks: which BASE rows the window superseded (touched) or
      // deleted — resolved against the base NOW (one base scan per
      // family per fold) so the per-probe view pays a mask stage only
      // when base rows actually died. DETACH resolves to the base
      // edge triples it kills, by endpoint.
      def orUnion(a: Option[DataFrame],
                  b: Option[DataFrame]): Option[DataFrame] = (a, b) match {
        case (Some(x), Some(y)) => Some(x.unionByName(y))
        case (x, y) => x.orElse(y)
      }
      val nonEmpty: Option[DataFrame] => Option[DataFrame] =
        _.filter(df => df.limit(1).count() > 0)
      val candV = orUnion(tV, dV).map(_.distinct())
      val newMaskV = candV.map(ids => baseV.select(col("id"))
        .join(broadcast(ids), Seq("id"), "left_semi"))
      maskV = nonEmpty(orUnion(maskV, newMaskV).map(m => ckpt(m.distinct())))
      mark("maskV")
      val candE = orUnion(tE, dE).map(_.distinct())
      val newMaskE0 = candE.map(tr => baseE.select(eKeys.map(col): _*)
        .join(broadcast(tr), eKeys, "left_semi"))
      val detachMaskE = dt.map { ids =>
        val be = baseE.select(eKeys.map(col): _*)
        be.join(broadcast(ids.withColumnRenamed("id", "src")),
            Seq("src"), "left_semi")
          .unionByName(be.join(
            broadcast(ids.withColumnRenamed("id", "dst")),
            Seq("dst"), "left_semi"))
      }
      maskE = nonEmpty(orUnion(maskE, orUnion(newMaskE0, detachMaskE))
        .map(m => ckpt(m.distinct())))

      mark("maskE")
      ovRows = ovV.map(_.count()).getOrElse(0L) +
        ovE.map(_.count()).getOrElse(0L)
      mark("counts")
      window = Nil
      g = rebuildView()
      mark("done")
    }

  /** The standing view at constant plan depth:
    * `base [▷ broadcast(mask)] ∪ overlay` per frame family — the
    * mask stage exists only when base rows actually died
    * (pre-intersected at fold time), so the append-mostly reference
    * workload probes a plain base ∪ overlay. */
  private def rebuildView(): PropertyGraph = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val v0 = maskV.fold(baseV)(m =>
      baseV.join(broadcast(m), Seq("id"), "left_anti"))
    val v = ovV.fold(v0)(o => v0.unionByName(o))
    val e0 = maskE.fold(baseE)(m =>
      baseE.join(broadcast(m), eKeys, "left_anti"))
    val e = ovE.fold(e0)(o => e0.unionByName(o))
    // stable positional layout (using-column anti joins front-load
    // their keys — same normalization as the apply's)
    PropertyGraph(v.select(baseV.columns.map(col).toSeq: _*),
      e.select(baseE.columns.map(col).toSeq: _*))
  }

  // ---- bucketed mode (round 14) ------------------------------------

  /** Enter bucketed mode when the base outgrows
    * [[GraphStore.BucketProbeRows]] (or `forceBucketed`, for specs
    * and A/B soaks). Called at the top of every write while the
    * index is absent; the only non-trivial work is the one-time
    * index build. */
  private def ensureProbeIndex(): Unit =
    if (bktV.isEmpty && !forceOverlay) {
      if (baseRows < 0 && window.isEmpty && baseValid) {
        baseRows = g.vertices.count() + g.edges.count()
        liveRows = baseRows
      }
      if (forceBucketed || baseRows > GraphStore.BucketProbeRows) {
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
    baseRows = nV + nE
    liveRows = baseRows
    ovV = None; ovE = None; maskV = None; maskE = None
    ovRows = 0L; window = Nil; segs = Vector.empty; baseValid = true
    clearLevels()
    g = PropertyGraph(baseV, baseE)
  }

  /** The pruned standing views the write apply probes through. The
    * memo collapses repeat probes on the SAME key frame (the apply
    * probes delta ids two or three times) to one bucket collect. */
  private def probeHint(): CypherWrite.ProbeHint = {
    val memoV = new java.util.IdentityHashMap[DataFrame, DataFrame]
    val memoE = new java.util.IdentityHashMap[DataFrame, DataFrame]
    CypherWrite.ProbeHint(
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
        _.filter(df => df.limit(1).count() > 0)

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
    baseRows = -1L // durable layout: recount lazily at the next fold
    ovV = None; ovE = None
    maskV = None; maskE = None
    bktV = None; bktE = None; segs = Vector.empty
    clearLevels()
    ovRows = 0L; window = Nil; baseValid = true
    writesSinceCompact = 0
  }
}

object GraphStore {
  /** [[GraphStore.stats]]: standing rows (vertices + edges), whether
    * the bucket-pruned probe index is on, folds so far and the last
    * fold's wall time. */
  final case class StoreStats(rows: Long, bucketed: Boolean, folds: Long,
                              lastFoldMs: Double)

  /** Rows a statement added to the standing graph, net. */
  private def netRows(s: CypherWrite.Stats): Long =
    s.nodesCreated - s.nodesDeleted + s.relsCreated - s.relsDeleted

  /** Base size (vertex + edge rows) past which the store builds the
    * bucket-pruned probe index (round 14) and switches to segment
    * compaction: below it, full standing probes on an in-memory store
    * cost less than the index build + per-probe bucket bookkeeping;
    * above it, every row-at-a-time statement would otherwise pay 2-3
    * O(store) probe scans (SCALE.md round-13 mechanism 4 — measured
    * ~0.45 s/scan at 3.3 M map-typed rows). Env-overridable for A/B
    * soak runs. */
  val BucketProbeRows: Long = sys.env.get("GRAFT_BUCKET_PROBE_ROWS")
    .map(s => scala.util.Try(s.trim.toLong).getOrElse(
      // fail with the env var NAMED — a bare .toLong here surfaces as
      // an opaque ExceptionInInitializerError at object init
      throw new IllegalArgumentException(
        s"GRAFT_BUCKET_PROBE_ROWS must be a long, got '$s'")))
    .getOrElse(1L << 20)

  /** Overlay size (vertex + edge rows) past which [[GraphStore]]'s
    * fold materializes a new base instead of maintaining the overlay:
    * the overlay rides broadcast joins, so it must stay comfortably
    * under the broadcast budget; a quarter-million keyed rows is a
    * few tens of MB.
    *
    * Also the size gate of the per-write fold: an unbucketed store of
    * at most this many standing rows re-checkpoints its touched frame
    * family after every write instead of stacking up to 8 layers.
    * Measured with `StoreSoak 12 4 50000` (144 row-at-a-time
    * statements over ~100k standing rows, local[4], 4-core host):
    * 200.4 s at the 8-write cadence and 79.2 s folding every write,
    * both with the point-pattern MATCH cross unhinted (69.8 s with
    * the broadcast cross) — not worse at the largest size measured
    * under the gate, so the gate stays here. */
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

  /** Base size (rows) up to which the fold COPIES the store (the
    * round-12 full localCheckpoint) instead of overlay-folding. The
    * round-13 store-size soak measured the crossover empirically: at
    * 3.3M in-memory map-typed rows, one full copy (~2 s) is CHEAPER
    * than the overlay fold's four standing probe scans (~3 s) plus
    * the per-probe view overhead (seeded soak: 1.6-1.9 s/stmt copied
    * vs 2.3-2.4 overlaid), because scanning map-typed rows costs
    * nearly as much as writing them while the store fits in memory.
    * Past this bound — and always for stores too big to
    * re-materialize per 8 statements, the 100 TB posture — the
    * overlay's never-rewrite-the-base property is what keeps
    * compaction viable at all. 8M rows is the comfortable in-memory
    * bound at the target executor sizing. */
  val FullFoldBaseRows: Long = 1L << 23

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
