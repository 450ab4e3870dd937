package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  *   - the delta applies to the standing vertex table through
  *     broadcast probes only — a semi join finds the delta ids that
  *     exist, a left-outer join updates them, and the missing ones
  *     union on — so the 100 TB vertex table never shuffles and
  *     untouched rows stream through unchanged. Matched rows get
  *     `props ⊕ onmatch ⊕ always` (⊕ = per-key map upsert, null value
  *     REMOVES the key — the openCypher `SET n.x = null` contract);
  *     created rows get `pat ⊕ oncreate ⊕ always`;
  *   - relationship MERGE deduplicates on the (src, dst, rel) triple
  *     identity and appends only the missing triples — re-running any
  *     statement is a FIXPOINT, the reference's core idempotence
  *     guarantee;
  *   - a store may pass a [[ProbeHint]]: a bucketed store's
  *     bucket-pruned standing views, or an unbucketed store's
  *     driver-side key index, with which the delta is collected once
  *     and existence, stats and the CREATE check resolve on the driver
  *     instead of in Spark jobs.
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
    * [[GraphStore]] folds by: the per-write fold re-checkpoints only
    * the frame families they name, and a bucketed store keeps them as
    * a window segment instead of re-materializing the standing graph
    * (round 13: the store-size soak measured the full-store
    * localCheckpoint every 8 statements at 1.7-2.3× the empty-store
    * per-statement cost on a 3.3M-row standing graph). With a key
    * index ([[ProbeHint.Indexed]]) `nodeIds` / `edgeTriples` hold only
    * the rows the statement changes (created, or matched with an
    * update), so a family it leaves as it was is None and the store
    * folds nothing for it. Every frame here is the apply's own
    * checkpointed (or collected and re-entered) delta/deletion set,
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

  /** How a store lets the apply's probes avoid O(store) work. Without
    * a hint the apply probes the full standing frames with Spark
    * joins — the reference both store regimes are pinned against
    * (CypherWriteSpec replays statements through both and compares
    * stats, rows and graphs). */
  sealed trait ProbeHint
  object ProbeHint {
    /** A bucketed store's bucket-pruned standing views (round 14 —
      * SCALE.md round-13 mechanism 4: the per-statement standing
      * probes were the last O(store) term on the row-at-a-time write
      * path). Each function takes a PARAM-SIZED key frame and returns
      * the standing rows restricted to the key buckets — a SUPERSET
      * (whole buckets) of the rows matching the keys, which every
      * caller immediately semi/anti-joins down, and a SUBSET of the
      * standing frame, so probe results are unchanged.
      *
      * `vertices`: keys frame has column `id`. `edgesBySrc`: keys
      * frame has column `src`; the edge index is clustered by src
      * only, so dst-keyed probes (DETACH endpoint checks — rare) fall
      * back to the full standing frame. */
    final case class Pruned(
        vertices: DataFrame => DataFrame,
        edgesBySrc: DataFrame => DataFrame) extends ProbeHint

    /** An unbucketed store's driver-resident key index.
      * `vertexIds(L)` holds the standing ids equal to `L` or starting
      * with `L:` — every id a delta row of label `L` can mint;
      * `edgePairs(R)` holds the standing `(src, dst)` pairs of type
      * `R`. The apply then collects each delta once, re-enters it as
      * a local relation, and resolves existence, the write stats and
      * the CREATE uniqueness check on the driver: the statement's
      * jobs are its delta and the store's fold. From the same rows it
      * decides per family whether anything changes (a created row, or
      * a matched one with a non-empty update map or a label mutation);
      * an unchanged family keeps its standing frame, with no apply
      * join, broadcast or fold. `created` receives the
      * vertex ids and `(src, dst, rel)` triples the statement creates
      * (null keys left out — they never match); the store stages them
      * and adds them to the index only once the statement applied. */
    final case class Indexed(
        vertexIds: String => collection.Set[String],
        edgePairs: String => collection.Set[(String, String)],
        created: (Seq[String], Seq[(String, String, String)]) => Unit)
        extends ProbeHint
  }

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
    * value removes the key. Only the keys the delta names change — a
    * base entry holding null stays — so an empty delta is an exact
    * identity, and a matched row with empty update maps can be skipped
    * without changing the graph. All lambda higher-order functions —
    * codegen-friendly, no UDFs. */
  private def mapUpsert(base: Column, delta: Column): Column = {
    val b = coalesce(base, emptyMap)
    val d = coalesce(delta, emptyMap)
    map_concat(map_filter(b, (k, _) => !map_contains_key(d, k)),
      map_filter(d, (_, v) => v.isNotNull))
  }
  /** Set-if-absent entries UNDER `props` (non-null): a key `props`
    * holds with a non-null value wins; a soft entry fills a key that is
    * missing or holds null (`coalesce(null, $p)` is `$p`), replacing
    * that null entry; a null soft value sets nothing, so an empty soft
    * map is an exact identity. */
  private def softUnder(soft: Column, props: Column): Column = {
    val fill = map_filter(coalesce(soft, emptyMap),
      (k, v) => v.isNotNull && element_at(props, k).isNull)
    map_concat(fill,
      map_filter(props, (k, v) => v.isNotNull || !map_contains_key(fill, k)))
  }
  /** A created row's props: a null pattern value sets no key. */
  private def present(m: Column): Column =
    map_filter(coalesce(m, emptyMap), (_, v) => v.isNotNull)

  def apply(g: PropertyGraph, wq: WriteQuery, params: Map[String, Any],
            labelKeys: Map[String, Seq[String]],
            hint: Option[ProbeHint] = None): Applied = {
    require(g.vertices.schema("props").dataType.isInstanceOf[MapType],
      "Cypher writes require the structured props layout " +
      "(map<string,string> — GraphAssembly.verticesMapProps)")
    val spark = g.vertices.sparkSession
    val pruned = hint.collect { case p: ProbeHint.Pruned => p }
    val index = hint.collect { case i: ProbeHint.Indexed => i }
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
      s.prunedVertices = pruned.map(_.vertices)
      s
    }
    var st = writeState()
    CypherCompiler.bindPrefix(st, g, wq.unwinds,
      liftFrameRefProps(wq.matches))
    // a MATCH-less statement binds one row in ONE slice: its
    // SinglePartition satisfies the delta dedup's distribution, so the
    // dedup plans no Exchange (one job, not a map stage plus a result)
    var frame = st.frame.getOrElse(spark.range(0, 1, 1, 1).toDF())

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
      * where the key is missing or null — a separate SOFT delta channel
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

    /** Does any node delta come from a CREATE (uniqueness check)? */
    var hasCreate = false
    /** The statement's node delta deduplicated by id, over the union
      * of every clause's rows (the clauses themselves do not dedup:
      * each dedup is one more Exchange and aggregate over map columns).
      * `ignoreNulls` everywhere: label-only rows carry NULL maps so they
      * never shadow a prop-carrying row for the same id (every row of
      * one clause has the same null pattern). `co`: some row of the id
      * comes from a CREATE (the uniqueness check). */
    def dedupNodes(df: DataFrame): DataFrame =
      df.groupBy(col("id"))
        .agg(first(col("dlabel"), ignoreNulls = true).as("dlabel"),
          first(col("pat"), ignoreNulls = true).as("pat"),
          first(col("oncreate"), ignoreNulls = true).as("oncreate"),
          first(col("onmatch"), ignoreNulls = true).as("onmatch"),
          first(col("always"), ignoreNulls = true).as("always"),
          first(col("soft"), ignoreNulls = true).as("soft"),
          first(col("slabel"), ignoreNulls = true).as("slabel"),
          first(col("unlabel"), ignoreNulls = true).as("unlabel"),
          max(col("co")).as("co"))
    /** The statement's relationship delta deduplicated by the
      * (src, dst, rel) triple, over the union of every clause's rows. */
    def dedupEdges(df: DataFrame): DataFrame =
      df.groupBy(col("src"), col("dst"), col("rel"))
        .agg(first(col("eprops")).as("eprops"),
          first(col("eoncreate")).as("eoncreate"),
          first(col("eonmatch")).as("eonmatch"),
          first(col("ealways")).as("ealways"))

    /** One node-delta row set: (id, dlabel, pat, oncreate, onmatch,
      * always) per frame row, deduplicated by id with the statement's
      * other clauses ([[dedupNodes]]). Contract: rows of
      * one statement targeting the SAME id must carry the same SET
      * values (first() picks the survivor otherwise) — the batch
      * idiom is one row per key, which is what the reference's
      * batcher produces; Neo4j's sequential row application is not
      * reproduced within a single set-wise statement. */
    def nodeDelta(np: NodePat, onCreate: Seq[SetItem], onMatch: Seq[SetItem],
                  always: Seq[SetItem], create: Boolean = false): DataFrame = {
      if (create) hasCreate = true
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
          lit(null).cast("string").as("unlabel"), lit(create).as("co"))
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
          lit(null).cast("string").as("unlabel"), lit(false).as("co"))
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
          (if (add) lit(null).cast("string") else lit(label)).as("unlabel"),
          lit(false).as("co"))
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
    }

    // ---- collect deltas across the statement's clauses -------------
    val nodeDeltas = Vector.newBuilder[DataFrame]
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
      * CREATE); bound endpoints are left untouched. A CREATE path's
      * endpoints join the uniqueness check (`create`). */
    def inlineEndpoints(path: PathPat, create: Boolean): Unit =
      path.nodes.filter(np => !st.nodes.contains(np.name) &&
          !writeBound.contains(np.name) &&
          (np.label.isDefined || np.props.nonEmpty))
        .foreach { np =>
          nodeDeltas += nodeDelta(np, Nil, Nil, Nil, create)
          // a named, labeled inline endpoint is recomputable — later
          // clauses in this statement may reference it bare
          if (!np.name.startsWith("  ")) writeBound(np.name) = idExpr(np)._1
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
        inlineEndpoints(path, create = false)
        if (onMatch.nonEmpty || always.nonEmpty) edgeUpdates = true
        relDeltas += relDelta(path, onCreate, onMatch, always)
      case Create(paths) =>
        paths.foreach { path =>
          if (path.edges.isEmpty) {
            val np = path.nodes.head
            nodeDeltas += nodeDelta(np, Nil, Nil, Nil, create = true)
            if (!np.name.startsWith("  ")) writeBound(np.name) = idExpr(np)._1
          } else {
            if (path.edges.length != 1 || path.edges.head.range.isDefined)
              throw new IllegalArgumentException(
                "CREATE supports one fixed-length relationship per path")
            // CREATE-always-creates: an inline endpoint whose id
            // already exists violates the declared uniqueness exactly
            // like the node-only CREATE form — loud, never a silent
            // MERGE fallback
            inlineEndpoints(path, create = true)
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
    // exchanges on it (CypherWriteSpec pins the plan shape). With a key
    // index (ProbeHint.Indexed) step 1 and the created side resolve on
    // the driver instead, over the once-collected delta, and step 2
    // probes only the matched rows that change something: a family
    // none of whose rows changes keeps its standing frame as it is.
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
      pruned.map(_.vertices(keys)).getOrElse(g.vertices)
    /** Collected delta rows re-entered as a local relation: later
      * reads of it (broadcast builds, the created side) re-read no
      * checkpoint. No size assumption beyond the apply's own — it
      * broadcasts the whole delta anyway. */
    def local(rows: Array[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)
    def duplicateCreate(id: String): Nothing = throw new IllegalStateException(
      s"CREATE violates uniqueness: node $id already exists (use MERGE)")
    /** A non-empty map in column `c` of a collected delta row. */
    def nonEmptyMap(r: Row, c: String): Boolean = {
      val i = r.fieldIndex(c)
      !r.isNullAt(i) && r.getMap[String, String](i).nonEmpty
    }
    /** A non-null value in column `c` of a collected delta row. */
    def isSet(r: Row, c: String): Boolean = !r.isNullAt(r.fieldIndex(c))
    /** Collected rows as a local relation, None when there are none. */
    def localOpt(rows: Array[Row], like: DataFrame): Option[DataFrame] =
      if (rows.isEmpty) None else Some(local(rows, like))
    val nds = nodeDeltas.result()
    if (nds.nonEmpty) {
      val grouped = nds.reduce(_ unionByName _).transform(dedupNodes)
      // `updates`: the rows the left-outer probe applies to matched
      // vertices; `fresh`: the created side; `ids`: the touched ids
      val (updates, fresh, ids, nCreated, nMatched) = index match {
        case Some(ix) =>
          val rows = grouped.collect()
          // a row without a MERGE/CREATE label comes from SET or a
          // label mutation: its id was read by a MATCH over this same
          // snapshot. A null id never matches (nor does the semi join)
          val (old, fresh) = rows.partition { r =>
            val id = r.getAs[String]("id")
            val label = r.getAs[String]("dlabel")
            id != null && (label == null || ix.vertexIds(label).contains(id))
          }
          old.find(_.getAs[Boolean]("co"))
            .foreach(r => duplicateCreate(r.getString(0)))
          ix.created(fresh.flatMap(r => Option(r.getString(0))).toSeq, Nil)
          // a matched row changes its vertex only through an update map
          // (onmatch, always, soft) or a label mutation; the rest are
          // identities (see mapUpsert), left out of the apply — and a
          // statement that changes nothing leaves the family untouched,
          // so the store folds nothing for it
          val changed = old.filter(r => nonEmptyMap(r, "onmatch") ||
            nonEmptyMap(r, "always") || nonEmptyMap(r, "soft") ||
            isSet(r, "slabel") || isSet(r, "unlabel"))
          (localOpt(changed, grouped), localOpt(fresh, grouped),
            localOpt(changed ++ fresh, grouped).map(_.select(col("id"))),
            fresh.length.toLong, old.length.toLong)
        case None =>
          // delta is param/match-sized: materialize it eagerly so the
          // stats counts and the standing-graph plan reference a local
          // truncated lineage, not a recompute of the whole bind. ONE
          // partition (via ckptDelta): every later broadcast build
          // re-reads it — a 1-task job instead of a shuffle-partition-
          // count job per broadcast
          val delta = grouped.transform(ckptDelta)
          val deltaIds = delta.select(col("id"))
          // ONE probe over the (pruned) standing ids, delta-sized output
          val matchedIds = standingV(deltaIds).select(col("id"))
            .join(broadcast(deltaIds), Seq("id"), "left_semi")
            .localCheckpoint(true)
          val nMatched = matchedIds.count()
          // declared-key CREATE constraint: creating an existing id
          // fails. matchedIds = standing ∩ delta and every create-only
          // id is in the delta, so the check is a delta-sized join — no
          // second standing probe (round 14)
          if (hasCreate)
            delta.filter(col("co")).select(col("id"))
              .join(broadcast(matchedIds), Seq("id"), "left_semi")
              .limit(1).collect()
              .foreach(r => duplicateCreate(r.getString(0)))
          (Some(delta),
            Some(delta.join(broadcast(matchedIds), Seq("id"), "left_anti")),
            Some(deltaIds), delta.count() - nMatched, nMatched)
      }
      touchedNodeIds = ids
      stats = stats + Stats(nCreated, nMatched, 0, 0)
      val created = fresh.map(_.select(col("id"), col("dlabel").as("label"),
        softUnder(col("soft"),
          mapUpsert(mapUpsert(present(col("pat")), col("oncreate")),
            col("always")))
          .as("props")))
      val d = updates.map(u => broadcast(u.withColumn("__d", lit(true))))
      vertexView = (base: DataFrame) => {
        val updated = d.fold(base)(u => base.join(u, Seq("id"), "left_outer")
          .select(
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
                // non-null keys of the standing/updated props win
                softUnder(col("soft"),
                  mapUpsert(mapUpsert(col("props"), col("onmatch")),
                    col("always"))))
              .otherwise(col("props"))
              .as("props")))
        created.fold(updated)(c => updated.unionByName(c))
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
      pruned.map(_.edgesBySrc(keys)).getOrElse(g.edges)
    val rds = relDeltas.result()
    if (rds.nonEmpty) {
      val keyCols = Seq("src", "dst", "rel")
      val grouped = rds.reduce(_ unionByName _).transform(dedupEdges)
      // `updates`: the rows the left-outer probe applies to matched
      // edges (only under ON MATCH / plain SET); `created`: the
      // appended side; `triples`: the touched triples
      val (updates, created, triples, nCreated, nMatched) = index match {
        case Some(ix) =>
          // a null endpoint never matches, as in the semi join
          val rows = grouped.collect()
          val (old, fresh) = rows.partition { r =>
            !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
              ix.edgePairs(r.getString(2))
                .contains((r.getString(0), r.getString(1)))
          }
          ix.created(Nil, fresh.toSeq
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
            .map(r => (r.getString(0), r.getString(1), r.getString(2))))
          // as on the vertex side: a matched triple changes only through
          // a non-empty update map
          val changed =
            if (!edgeUpdates) Array.empty[Row]
            else old.filter(r =>
              nonEmptyMap(r, "eonmatch") || nonEmptyMap(r, "ealways"))
          (localOpt(changed, grouped), localOpt(fresh, grouped),
            localOpt(changed ++ fresh, grouped)
              .map(_.select(keyCols.map(col): _*)),
            fresh.length.toLong, old.length.toLong)
        case None =>
          val delta = grouped.transform(ckptDelta) // param-sized, see node delta
          // which delta triples already exist: one broadcast probe over
          // the (src-bucket-pruned) standing edges, delta-sized output
          val deltaTriples = delta.select(keyCols.map(col): _*)
          val matchedTriples = standingE(deltaTriples)
            .select(keyCols.map(col): _*)
            .join(broadcast(deltaTriples), keyCols, "left_semi")
            .localCheckpoint(true)
          val created = delta.join(broadcast(matchedTriples), keyCols,
            "left_anti")
          val nCreated = created.count()
          (if (edgeUpdates) Some(delta) else None, Some(created),
            Some(deltaTriples), nCreated, delta.count() - nCreated)
      }
      touchedTriples = triples
      stats = stats + Stats(0, 0, nCreated, nMatched)
      val createdAligned = created.map(c =>
        if (g.edges.columns.contains("props"))
          c.select(col("src"), col("dst"), col("rel"),
            mapUpsert(mapUpsert(present(col("eprops")), col("eoncreate")),
              col("ealways")).as("props"))
        else c.select(keyCols.map(col): _*))
      // ON MATCH SET / SET r.… updates: one broadcast left-outer probe
      // over the standing edges (matched triples get props ⊕ onmatch ⊕
      // always) — skipped entirely for the historical append-only
      // statements, whose standing-edge pass stays a bare union
      val dEdge = updates.map(u => broadcast(u.withColumn("__d", lit(true))))
      edgeView = (standing: DataFrame) => {
        val base = dEdge.fold(standing)(d =>
          standing.join(d, keyCols, "left_outer").select(
            col("src"), col("dst"), col("rel"),
            when(col("__d").isNotNull,
                mapUpsert(mapUpsert(col("props"), col("eonmatch")),
                  col("ealways")))
              .otherwise(col("props")).as("props")))
        createdAligned.fold(base)(base.unionByName(_, allowMissingColumns = true))
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
        val attached = remaining(edgeView(standingE(pSrc)))
          .join(broadcast(pSrc), Seq("src"), "left_semi")
          .unionByName(remaining(edgeView(g.edges))
            .join(broadcast(p.withColumnRenamed("id", "dst")),
              Seq("dst"), "left_semi"))
        // both endpoint probes in ONE job, each partition reporting
        // whether it holds a row — no limit plan, whose per-plan
        // `_limit_counter_` name never hits the codegen cache
        if (attached.select(lit(1)).queryExecution.toRdd
              .mapPartitions(rows => Iterator(rows.hasNext))
              .collect().contains(true))
          throw new IllegalStateException(
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
      if (pruned.isEmpty) None
      else touchedNodeIds.map(ids =>
        vertexView(standingV(ids))
          .join(broadcast(ids), Seq("id"), "left_semi")
          .transform(ckptDelta))
    val touchedEdgeRows: Option[DataFrame] =
      if (pruned.isEmpty) None
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
