package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import CypherAst._

/** A queryable property graph in the engine's standard shape:
  * vertices `(id, label, props)` with `props` a JSON string (what
  * [[graft.domain.GraphAssembly]] builds and
  * [[graft.operators.GraphExport]] lays out on disk), edges
  * `(src, dst, rel)` plus an OPTIONAL `props` JSON column for
  * relationship properties.
  *
  * Edge identity is the `(src, dst, rel)` triple — the engine's
  * graphs are built by MERGE-idempotent assembly (duplicate triples
  * are deduped at build time, GraphAssembly/Queries6 edgeSpecs), so
  * the triple IS the edge, exactly as in the reference's Neo4j store
  * where every edge is created by `MERGE (s)-[:R]->(d)`.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {
  /** Compile-and-run a Cypher read query against this graph.
    * `params` resolves `$name` references (openCypher query
    * parameters — the same parameterize-everything contract the
    * reference's write side uses). */
  def cypher(query: String, params: Map[String, Any] = Map.empty): DataFrame =
    CypherCompiler.run(this, CypherParser.parse(query), params)
}

/** Compiles the parsed Cypher READ subset ([[CypherAst]]) to a plain
  * DataFrame plan — every construct lands on Catalyst operators, so
  * the optimizer treats a Cypher query exactly like a hand-written
  * program:
  *
  *   - node patterns are vertex scans with the label and prop-map
  *     equality folded into the scan filter (over a
  *     [[graft.operators.GraphExport]] layout, `label = …` prunes
  *     whole partition directories before a byte is read);
  *   - each hop is one equi-join edges⋈vertices on the id key — the
  *     shape AQE broadcast-converts when a pattern side is small;
  *   - variable-length `*m..n` expands to a UNION of fixed-length
  *     join chains, one row per path, with openCypher's
  *     relationship-uniqueness enforced as pairwise triple
  *     inequality between same-type hops; OPEN ranges (`[*]`,
  *     `[*m..]`) iterate level-by-level to the empty frontier
  *     (finite under trail uniqueness — a path holds each edge at
  *     most once), each level a frontier⋈edges join seeded from the
  *     pattern's start ids;
  *   - OPTIONAL MATCH is a left outer join on the shared variables;
  *   - WITH is a projection (plus hash aggregate when it aggregates)
  *     followed by a variable-scope reset — openCypher pipeline
  *     semantics, HAVING via its trailing WHERE;
  *   - `p = shortestPath((a)-[:R*m..n]->(b))` is the bounded
  *     expansion collapsed to ONE deterministic representative per
  *     (a, b) pair (the lexicographically smallest (depth, nodes,
  *     rels) triple) by one hash aggregate — no traversal state, no
  *     driver iteration; `allShortestPaths` keeps EVERY min-length
  *     path via a per-pair-min equi-join; general `p = (a)-[…]->(b)`
  *     bindings ride the unchanged pattern plan plus three array
  *     columns (nodes/relationships/length projections);
  *   - RETURN with aggregates is the openCypher implicit group-by
  *     (non-aggregate items are the keys) — one hash aggregate.
  *
  * Nothing executes on the driver and nothing is interpreted per
  * row; `.explain` on the result shows the ordinary scan/join/agg
  * plan the equivalent DataFrame program would produce.
  */
object CypherCompiler {

  private def idCol(v: String) = col(s"$v __id")
  private def labelCol(v: String) = col(s"$v __label")
  private def propsCol(v: String) = col(s"$v __props")

  /** Canonical ISO render of a Neo4j temporal constructor's argument:
    * the reference's component map (app/utils.py:45-57, ints for
    * year…second plus an optional `timezone` offset string) →
    * `yyyy-MM-ddTHH:mm:ss[±offset]`; ISO text passes through;
    * timestamps render from the instant. String-typed props are the
    * engine's graph contract, so a temporal IS its canonical text. */
  private[graft] def renderTemporal(kind: String, v: Any): String = v match {
    case null => null
    case s: String => s
    case m: scala.collection.Map[_, _] =>
      val mm = m.map { case (k, x) => String.valueOf(k) -> x }
      def i(k: String, d: Int): Int = mm.get(k).map {
        case n: Number => n.intValue
        case s: String => s.toInt
        case other => throw new IllegalArgumentException(
          s"temporal component $k must be a number, got $other")
      }.getOrElse(d)
      val date = f"${i("year", 0)}%04d-${i("month", 1)}%02d-${i("day", 1)}%02d"
      if (kind == "date") date
      else {
        val t = f"${i("hour", 0)}%02d:${i("minute", 0)}%02d:${i("second", 0)}%02d"
        val tz = mm.get("timezone").map(String.valueOf).getOrElse("")
        s"${date}T$t$tz"
      }
    case t: java.sql.Timestamp =>
      val s = t.toInstant.toString.stripSuffix("Z")
      if (kind == "date") s.take(10) else s
    case d: java.sql.Date =>
      if (kind == "date") d.toString else s"${d}T00:00:00"
    case other => throw new IllegalArgumentException(
      s"$kind() takes a component map, ISO string or timestamp, " +
      s"got ${other.getClass.getSimpleName}")
  }

  /** Per-query compile state: which variables are bound, and which
    * edge-variable hops exist per MATCH part (for trail semantics).
    * `private[cypher]`: the write compiler ([[CypherWrite]]) binds its
    * UNWIND/MATCH prefix through the same machinery. */
  private[cypher] final class St(val g: PropertyGraph,
                                 val params: Map[String, Any]) {
    var frame: Option[DataFrame] = None
    val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
    val edgeVars = scala.collection.mutable.LinkedHashSet.empty[String]
    /** WITH-projected value variables: alias → physical column. */
    val valueCols = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** Higher-order-function lambda bindings (list comprehension /
      * reduce / quantifier variables, round 15) — innermost scope
      * shadows frame variables, per openCypher. */
    val lambdaVars = scala.collection.mutable.Map.empty[String, Column]
    /** value variables known to hold a LIST (collect()/keys()
      * projections) — so size()/toString() pick array semantics
      * statically, without probing the frame's schema mid-compile. */
    val arrayVars = scala.collection.mutable.Set.empty[String]
    /** value variables known to hold a MAP (UNWIND over a list of
      * maps — the batch-write row variable): `row.k` compiles to map
      * access instead of an unbound-variable error. */
    val mapVars = scala.collection.mutable.Set.empty[String]
    /** Path bindings (shortestPath AND general `p = (…)`): path var
      * → its length column. */
    val pathVars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** GENERAL path bindings only (round 16): path var → its
      * (node-id list column, relationship-text list column) —
      * nodes(p)/relationships(p) project these; shortestPath
      * bindings collapse paths to min length per endpoint pair, so
      * they appear in [[pathVars]] only. */
    val pathListCols =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    val edgeHasProps: Boolean = g.edges.columns.contains("props")
    // endpoint/rel column types, for null-padding var-length chain
    // hop columns to a uniform union schema
    val srcType: org.apache.spark.sql.types.DataType =
      g.edges.schema("src").dataType
    val dstType: org.apache.spark.sql.types.DataType =
      g.edges.schema("dst").dataType
    val relTypeDt: org.apache.spark.sql.types.DataType =
      g.edges.schema("rel").dataType

    // Structured-props fast path: when the props column is a MapType
    // (GraphAssembly.verticesMapProps / a map-typed export), property
    // access compiles to GetMapValue — codegen'd, prunable — instead
    // of the interpreted get_json_object over a JSON string. Both
    // layouts are first-class; the column TYPE decides per graph.
    private def isMap(df: DataFrame, c: String): Boolean =
      df.columns.contains(c) &&
        df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
    val vertexPropsIsMap: Boolean = isMap(g.vertices, "props")
    val edgePropsIsMap: Boolean = isMap(g.edges, "props")

    /** Property access over a props container column. */
    def propGet(c: Column, mapTyped: Boolean, k: String): Column =
      if (mapTyped) c.getItem(k) else get_json_object(c, s"$$.$k")

    def paramLit(name: String): Column = lit(params.getOrElse(name,
      throw new IllegalArgumentException(s"missing query parameter $$$name")))

    def constCol(e: Expr): Column = e match {
      case Lit(value) => lit(value)
      case Param(n) => paramLit(n)
      case TemporalFn(kind, inner) =>
        lit(renderTemporal(kind, constValue(inner)))
      case other => throw new IllegalArgumentException(
        s"prop map value must be a literal or $$param, got $other")
    }

    /** Raw compile-time value of a literal/param expression. */
    def constValue(e: Expr): Any = e match {
      case Lit(value) => value
      case Param(n) => params.getOrElse(n,
        throw new IllegalArgumentException(s"missing query parameter $$$n"))
      case other => throw new IllegalArgumentException(
        s"expected a literal or $$param, got $other")
    }

    /** The store's declared per-label uniqueness keys (set by
      * [[CypherWrite]]; empty for reads). A node pattern that names a
      * keyed label AND binds every key prop to a literal/param has a
      * store-computable identity (`label:key1:key2`, the same contract
      * the MERGE match probe relies on) — see [[keyId]]. */
    var labelKeys: Map[String, Seq[String]] = Map.empty

    /** Write-path scan pruning (round 14, bucketed stores only): the
      * store's bucket-pruned vertex view. A key-identified pattern's
      * scan reads only its id's bucket; the usual label/prop filters
      * still apply on top, so the result set is identical; patterns
      * outside the contract scan as before. Contract fine print: key
      * props must be bound with the same type discipline the writes
      * used — a mixed-type key binding (`sid: 7` written, `sid: 7.0`
      * matched) hashes to a different id and already breaks MERGE
      * identity itself, so it is outside the store's constraint
      * contract, not a pruning regression. */
    var prunedVertices: Option[DataFrame => DataFrame] = None

    /** `label:key1:key2` of a pattern whose label has declared keys
      * and binds every key to a literal/param; None otherwise. */
    def keyId(np: NodePat): Option[Column] = for {
      l <- np.label
      ks <- labelKeys.get(l)
      if ks.nonEmpty && ks.forall(np.props.contains)
      idc <- scala.util.Try(concat_ws(":",
        (lit(l) +: ks.map(k => constCol(np.props(k)).cast("string")))
          : _*)).toOption
    } yield idc

    def nodeFrame(np: NodePat): DataFrame = {
      val v = np.name
      val source = (for {
        prunedV <- prunedVertices
        idc <- keyId(np)
      } yield prunedV(
        g.vertices.sparkSession.range(1).select(idc.as("id"))))
        .getOrElse(g.vertices)
      val base = np.label.foldLeft(source)((d, l) => d.filter(col("label") === l))
      val filtered = np.props.foldLeft(base) { case (d, (k, e)) =>
        d.filter(propGet(col("props"), vertexPropsIsMap, k) === constCol(e))
      }
      filtered.select(col("id").as(s"$v __id"), col("label").as(s"$v __label"),
        col("props").as(s"$v __props"))
    }

    def edgeFrame(e: EdgePat, hop: String): DataFrame = {
      val base =
        if (e.types.isEmpty) g.edges
        else if (e.types.size == 1) g.edges.filter(col("rel") === e.types.head)
        else g.edges.filter(col("rel").isin(e.types: _*))
      val filtered = e.props.foldLeft(base) { case (d, (k, pe)) =>
        if (!edgeHasProps) throw new IllegalArgumentException(
          s"edge property map on [$hop] but the edge table has no props column")
        d.filter(propGet(col("props"), edgePropsIsMap, k) === constCol(pe))
      }
      val cols = Seq(col("src").as(s"$hop __src"), col("dst").as(s"$hop __dst"),
        col("rel").as(s"$hop __rel")) ++
        (if (edgeHasProps) Seq(col("props").as(s"$hop __eprops")) else Nil)
      filtered.select(cols: _*)
    }

    /** [[edgeFrame]] plus explicit TRAVERSAL columns `__from`/`__to`:
      * for a directed hop they alias the stored endpoints per the
      * arrow; for an UNDIRECTED hop (`-[…]-`) the frame is the union
      * of both orientations — an ordinary equi-join shape, never an
      * OR-join (which would nested-loop at scale). The stored
      * `__src`/`__dst`/`__rel` columns keep the edge's true identity
      * regardless of traversal direction, so trail uniqueness and
      * DELETE on the edge variable stay orientation-independent. A
      * self-loop is emitted once (the flipped copy filters src=dst),
      * matching openCypher's one-row-per-relationship contract. */
    def edgeFrameDir(e: EdgePat, hop: String): DataFrame = {
      val ef = edgeFrame(e, hop)
      val (srcC, dstC) = (col(s"$hop __src"), col(s"$hop __dst"))
      if (!e.undirected) {
        val (f, t) = if (e.out) (srcC, dstC) else (dstC, srcC)
        ef.withColumn(s"$hop __from", f).withColumn(s"$hop __to", t)
      } else {
        val fwd = ef.withColumn(s"$hop __from", srcC)
          .withColumn(s"$hop __to", dstC)
        val bwd = ef.filter(srcC =!= dstC)
          .withColumn(s"$hop __from", dstC)
          .withColumn(s"$hop __to", srcC)
        fwd.unionByName(bwd)
      }
    }
  }

  /** Entry points for the write compiler ([[CypherWrite]]): fresh
    * compile state, expression compilation, and binding of a write
    * statement's UNWIND/MATCH prefix through the exact read machinery
    * (so endpoint matching behaves identically to MATCH in queries). */
  private[cypher] def newState(g: PropertyGraph,
                               params: Map[String, Any]): St =
    new St(g, params)

  private[cypher] def expr(st: St, e: Expr): Column = exprCol(st, e)

  private[cypher] def nodeId(st: St, v: String): Column = {
    if (!st.nodes.contains(v))
      throw new IllegalArgumentException(s"unbound variable $v")
    idCol(v)
  }

  private[cypher] def bindPrefix(st: St, g: PropertyGraph,
                                 unwinds: Seq[(Expr, String)],
                                 matches: Seq[MatchPart]): Unit = {
    // preferMap: a write statement's UNWIND is the batch idiom (`$rows`
    // is a list of maps, `row.k` binds pattern keys), and an EMPTY
    // batch — what a real batcher sends on a quiet tick — must still
    // compile to a zero-stat no-op rather than fail `row.k` as unbound
    unwinds.foreach { case (e, v) =>
      applyUnwind(st, g, e, v, preferMap = true) }
    matches.foreach { part =>
      val edgesBefore = st.edgeVars.toSet
      val pathsBefore = st.pathVars.keySet.toSet
      val (pf, bound) = compilePart(st, part)
      val partLocal = (st.edgeVars.toSet -- edgesBefore) ++
        (st.pathVars.keySet.toSet -- pathsBefore)
      attach(st, pf, bound, part.optional, part.where, partLocal,
        isKeyPoint(st, part))
    }
  }

  def run(g: PropertyGraph, q: Query,
          params: Map[String, Any] = Map.empty): DataFrame = {
    // openCypher forbids mixing UNION and UNION ALL in one chain
    val flags = Iterator.iterate(q.union)(_.flatMap(_._2.union))
      .takeWhile(_.isDefined).map(_.get._1).toSeq
    if (flags.distinct.size > 1) throw new IllegalArgumentException(
      "cannot mix UNION and UNION ALL in one query")
    val self = runSingle(g, q, params)
    q.union match {
      case None => self
      case Some((all, next)) =>
        // columns match by NAME (openCypher requires identical names)
        val u = self.unionByName(run(g, next, params))
        if (all) u else u.distinct()
    }
  }

  private def runSingle(g: PropertyGraph, q: Query,
                        params: Map[String, Any]): DataFrame = {
    val st = new St(g, params)
    runContinuation(st, g, q)
  }

  /** Run a query's segments + RETURN against a PRE-SEEDED compile
    * state — the shared read pipeline, and the write compiler's entry
    * point for `MERGE … RETURN` / `… WITH … RETURN` continuations
    * ([[CypherWrite]] seeds `st.frame` with the statement's bound
    * rows, node/edge vars re-probed against the post-apply graph). */
  private[cypher] def runContinuation(st: St, g: PropertyGraph,
                                      q: Query): DataFrame = {
    q.segments.foreach { seg =>
      seg.unwinds.foreach { case (e, v) => applyUnwind(st, g, e, v) }
      seg.matches.foreach { part =>
        val edgesBefore = st.edgeVars.toSet
        val pathsBefore = st.pathVars.keySet.toSet
        val partFrame = compilePart(st, part)
        val partLocal = (st.edgeVars.toSet -- edgesBefore) ++
          (st.pathVars.keySet.toSet -- pathsBefore)
        attach(st, partFrame._1, partFrame._2, part.optional, part.where,
          partLocal, isKeyPoint(st, part))
      }
      seg.where.foreach(e =>
        st.frame = st.frame.map(applyPredicate(st, _, e)))
      seg.withPart.foreach(w => applyWith(st, w))
    }
    val df0 = st.frame.getOrElse(
      throw new IllegalArgumentException("query bound no variables"))
    returnClause(st, df0, q.ret)
  }

  /** UNWIND: one row per list element, bound as a value variable —
    * a LOCAL relation crossed onto the frame (Catalyst turns the
    * cross + a correlating equality in WHERE into a plain join, and
    * broadcasts the list side). The reference's batch idiom
    * (`UNWIND $rows`), read-side. */
  private[cypher] def applyUnwind(st: St, g: PropertyGraph, e: Expr,
                                  v: String,
                                  preferMap: Boolean = false): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    if (st.nodes.contains(v) || st.edgeVars.contains(v) ||
        st.valueCols.contains(v) || st.pathVars.contains(v))
      throw new IllegalArgumentException(
        s"UNWIND … AS $v: variable $v is already declared")
    val raw: Seq[Any] = e match {
      case ListLit(vals) => vals.map(_.value)
      case Param(n) => st.params.getOrElse(n,
        throw new IllegalArgumentException(
          s"missing query parameter $$$n")) match {
        case s: Seq[_] => s
        case a: Array[_] => a.toSeq
        case other => throw new IllegalArgumentException(
          s"UNWIND $$$n must be a list, got ${other.getClass.getSimpleName}")
      }
      case other => throw new IllegalArgumentException(
        s"UNWIND takes a literal list or $$param, got $other")
    }
    val norm = raw.map {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case x => x
    }
    val colName = s"$v __val"
    // an EMPTY list carries no type evidence: the write path prefers
    // the batch-idiom map layout (so `row.k` compiles and the
    // statement is a zero-row no-op); the read path keeps the scalar
    // default (so comparisons against the variable still analyze)
    val isMapList =
      norm.exists(_.isInstanceOf[scala.collection.Map[_, _]]) ||
        (norm.isEmpty && preferMap)
    val (dt: DataType, rows: Seq[Row]) =
      if (isMapList) {
        // list of maps — the batch-write row idiom (`UNWIND $rows AS
        // row MERGE (n {k: row.k}) …`). Values land STRINGLY, matching
        // the structured props layout's map<string,string> contract.
        val maps = norm.map {
          case null => null
          case m: scala.collection.Map[_, _] =>
            m.map { case (k, mv) =>
              String.valueOf(k) ->
                (if (mv == null) null else String.valueOf(mv))
            }.toMap
          case other => throw new IllegalArgumentException(
            "UNWIND list mixes maps and scalars: " +
              other.getClass.getSimpleName)
        }
        (MapType(StringType, StringType), maps.map(Row(_)))
      } else {
        val d: DataType = norm.find(_ != null) match {
          case Some(_: String) => StringType
          case Some(_: Long) => LongType
          case Some(_: Double) => DoubleType
          case Some(_: Boolean) => BooleanType
          case Some(other) => throw new IllegalArgumentException(
            s"UNWIND element type not supported: ${other.getClass.getSimpleName}")
          case None => StringType
        }
        (d, norm.map(Row(_)))
      }
    val schema = StructType(Seq(StructField(colName, dt, nullable = true)))
    val jrows = new java.util.ArrayList[Row](rows.length)
    rows.foreach(jrows.add)
    val df = g.vertices.sparkSession.createDataFrame(jrows, schema)
    st.frame = st.frame match {
      case None => Some(df)
      case Some(f) => Some(f.crossJoin(df))
    }
    st.valueCols += v -> colName
    if (isMapList) st.mapVars += v
  }

  /** The WITH pipeline step: project (and possibly aggregate) the
    * frame, then RESET the variable scope to exactly the projected
    * items — bare node variables stay bound as nodes (under their
    * alias), expression/aggregate items become value columns,
    * everything else (edge vars, unprojected nodes) goes out of
    * scope, which is openCypher's WITH semantics. The trailing WHERE
    * filters the projection (the HAVING position when aggregating).
    */
  private def applyWith(st: St, w0: WithClause): Unit = {
    val df0 = st.frame.getOrElse(
      throw new IllegalArgumentException("WITH before any MATCH bound rows"))
    // pattern comprehensions join their collected lists on first
    // (round 15) — the projection then reads them as value columns
    val (df, witems) = liftItems(st, df0, w0.items)
    val w = w0.copy(items = witems)
    val hasAgg = w.items.exists(isAggItem)
    // bare node variables pass through as nodes: WITH c AS x rebinds
    final case class NodeItem(v: String, alias: String)
    val nodeItems = w.items.collect {
      case Item(Some(Var(v)), None, _, alias) if st.nodes.contains(v) =>
        NodeItem(v, alias)
    }
    val valueItems = w.items.filterNot {
      case Item(Some(Var(v)), None, _, _) => st.nodes.contains(v)
      case _ => false
    }
    def nodeCols(ni: NodeItem): Seq[Column] = Seq(
      idCol(ni.v).as(s"${ni.alias} __id"),
      labelCol(ni.v).as(s"${ni.alias} __label"),
      propsCol(ni.v).as(s"${ni.alias} __props"))
    def valueKeyCol(it: Item): Column =
      exprCol(st, it.expr.getOrElse(throw new IllegalArgumentException(
        s"WITH item ${it.alias} has no expression"))).as(s"${it.alias} __val")
    val projected =
      if (!hasAgg) {
        val cols = nodeItems.flatMap(nodeCols) ++
          valueItems.map(valueKeyCol)
        val d = df.select(cols: _*)
        if (w.distinct) d.distinct() else d
      } else {
        val keys = nodeItems.flatMap(nodeCols) ++
          valueItems.filterNot(isAggItem).map(valueKeyCol)
        val aggs = valueItems.filter(isAggItem).map { it =>
          aggItemCol(st, it).as(s"${it.alias} __val")
        }
        if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      }
    // list-typed aliases (collect() items, keys()/list passthroughs)
    // — resolved against the OLD scope, applied to the new one
    val listAliases = valueItems.collect {
      case it if it.agg.contains("collect") => it.alias
      case it if it.agg.isEmpty && it.expr.exists(yieldsList(st, _)) => it.alias
    }.toSet
    // map-typed aliases (map projections, properties(v) passthroughs)
    // — `m.k` after the WITH compiles to map access (round 15)
    val mapAliases = valueItems.collect {
      case it if it.agg.isEmpty && it.expr.exists(yieldsMap(st, _)) => it.alias
    }.toSet
    // new scope BEFORE the trailing WHERE — it sees the projection
    st.nodes.clear(); st.nodes ++= nodeItems.map(_.alias)
    st.edgeVars.clear()
    st.pathVars.clear()
    st.pathListCols.clear()
    st.valueCols.clear()
    st.arrayVars.clear(); st.arrayVars ++= listAliases
    // full scope reset for map-typed aliases too (round 16): a
    // stale entry from an earlier scope would make a REBOUND name
    // compile `v.k` as map access on the wrong column. mapAliases
    // was resolved against the OLD scope above, so surviving
    // re-projections (`WITH row` — Var of a map var) are already in
    // the set being applied.
    st.mapVars.clear(); st.mapVars ++= mapAliases
    valueItems.foreach(it => st.valueCols += it.alias -> s"${it.alias} __val")
    def orderCol(o: OrderItem): Column = {
      // the projection kept every scope column (node triples + value
      // cols), so any expression over the NEW scope evaluates directly;
      // a bare node variable sorts by its id
      val c = o.key match {
        case Var(v) if st.nodes.contains(v) => idCol(v)
        case e => exprCol(st, e)
      }
      if (o.asc) c.asc else c.desc
    }
    val ordered =
      if (w.orderBy.isEmpty) projected
      else projected.orderBy(w.orderBy.map(orderCol): _*)
    val skipped = w.skip.fold(ordered)(n => ordered.offset(n.toInt))
    val limited = w.limit.fold(skipped)(n => skipped.limit(n.toInt))
    val filtered = w.where.fold(limited)(e => applyPredicate(st, limited, e))
    st.frame = Some(filtered)
  }

  /** Aggregate column (shared by top-level items and nested AggFn). */
  private def aggColumn(st: St, name: String, distinct: Boolean,
                        arg: Option[Expr],
                        extra: Option[Expr] = None): Column =
    (name, arg) match {
      case ("stdev", Some(e)) => stddev_samp(exprCol(st, e))
      case ("stdevp", Some(e)) => stddev_pop(exprCol(st, e))
      // percentileCont: EXACT interpolated percentile (Spark's
      // percentile aggregate — sort-based exact, matching DuckDB's
      // quantile_cont for the oracle)
      case ("percentilecont", Some(e)) =>
        percentile(exprCol(st, e), exprCol(st, extra.get))
      // percentileDisc: the smallest actual element at or above the
      // fraction — element ceil(f·n) of the sorted collected list
      // (exact, an aggregate composition; openCypher returns a real
      // element here, not an interpolation)
      case ("percentiledisc", Some(e)) =>
        val c = exprCol(st, e)
        val f = exprCol(st, extra.get)
        element_at(sort_array(collect_list(c)),
          greatest(ceil(f * count(c)), lit(1)).cast("int"))
      case ("count", None) => count(lit(1))
      case ("count", Some(e)) if distinct => countDistinct(exprCol(st, e))
      case ("count", Some(e)) => count(exprCol(st, e))
      case ("sum", Some(e)) => sum(exprCol(st, e))
      case ("min", Some(e)) => min(exprCol(st, e))
      case ("max", Some(e)) => max(exprCol(st, e))
      case ("avg", Some(e)) => avg(exprCol(st, e))
      // openCypher collect() leaves element order unspecified; the
      // engine's instance is SORTED ascending (nulls are skipped by
      // collect_list/set per openCypher) — deterministic across
      // partitionings, so the same query hashes the same at any scale
      case ("collect", Some(e)) if distinct =>
        sort_array(collect_set(exprCol(st, e)))
      case ("collect", Some(e)) => sort_array(collect_list(exprCol(st, e)))
      case (a, _) => throw new IllegalArgumentException(s"bad aggregate $a")
    }

  /** Aggregate column for a RETURN/WITH item with a top-level agg. */
  private def aggCol(st: St, it: Item): Column =
    aggColumn(st, it.agg.get, it.distinct, it.expr, None)

  /** Does the item expression contain a nested aggregate? Such items
    * compile INSIDE agg() (Spark allows scalar expressions over
    * aggregates there) rather than as grouping keys. */
  private def containsAgg(e: Expr): Boolean = e match {
    case AggFn(_, _, _, _) => true
    case ToInt(x) => containsAgg(x)
    case ToFloat(x) => containsAgg(x)
    case Coalesce(es) => es.exists(containsAgg)
    case StrFn(_, args) => args.exists(containsAgg)
    case CaseWhen(bs, o) =>
      bs.exists { case (c, v) => containsAgg(c) || containsAgg(v) } ||
        o.exists(containsAgg)
    case Cmp(_, l, r) => containsAgg(l) || containsAgg(r)
    case Arith(_, l, r) => containsAgg(l) || containsAgg(r)
    case IsNull(x, _) => containsAgg(x)
    case InList(x, _) => containsAgg(x)
    case StrPred(_, l, r) => containsAgg(l) || containsAgg(r)
    case And(l, r) => containsAgg(l) || containsAgg(r)
    case Or(l, r) => containsAgg(l) || containsAgg(r)
    case Not(x) => containsAgg(x)
    case ListComp(_, l, w, proj) =>
      containsAgg(l) || w.exists(containsAgg) || proj.exists(containsAgg)
    case Reduce(_, init, _, l, body) =>
      containsAgg(init) || containsAgg(l) || containsAgg(body)
    case Quant(_, _, l, pred) => containsAgg(l) || containsAgg(pred)
    case MapProj(_, items, _) =>
      items.exists(_._2.exists(containsAgg))
    case _ => false
  }

  /** Is the item an aggregating one (top-level agg or nested AggFn)? */
  private def isAggItem(it: Item): Boolean =
    it.agg.isDefined || it.expr.exists(containsAgg)

  /** Compile an aggregating item: top-level agg via [[aggCol]], nested
    * via [[exprCol]] (AggFn resolves inside the expression). */
  private def aggItemCol(st: St, it: Item): Column =
    if (it.agg.isDefined) aggCol(st, it) else exprCol(st, it.expr.get)

  /** Compile one MATCH part into (frame, boundVars). The part is
    * compiled standalone — variables already bound in earlier parts
    * are REBOUND from the graph here and reconciled by [[attach]]'s
    * join on the shared ids, which is what makes the same code path
    * serve both plain (inner) and OPTIONAL (left outer) MATCH. */
  private[cypher] def compilePart(st: St, part: MatchPart): (DataFrame, Seq[String]) = {
    var frame: Option[DataFrame] = None
    val bound = scala.collection.mutable.LinkedHashSet.empty[String]
    // (hopName, typeSet) per materialized hop in THIS part, for the
    // openCypher relationship-uniqueness (trail) conditions
    val hops = scala.collection.mutable.ArrayBuffer.empty[(String, Set[String])]
    // var-length expansions in THIS part: (chain hop names, typeSet).
    // Their triple columns are RETAINED (null-padded to the upper
    // bound) until the end of the part so uniqueness holds between a
    // var-length chain and fixed hops, and between two var-length
    // chains — not just inside one chain. Dropped after filtering.
    val varHops = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Set[String])]
    var anonHop = 0
    def freshHop(): String = { anonHop += 1; s"  h$anonHop" }
    // null-safe triple inequality: a padded (null) chain hop can never
    // equal a real hop, so the condition stays TRUE for short chains
    def tripleNeq(a: String, b: String): Column =
      not(col(s"$a __src") <=> col(s"$b __src") &&
          col(s"$a __dst") <=> col(s"$b __dst") &&
          col(s"$a __rel") <=> col(s"$b __rel"))

    def bindNode(np: NodePat, joinOn: Option[Column]): Unit = {
      if (bound.contains(np.name)) {
        // re-walked variable: constrain, don't re-scan — but a label
        // or prop map on the re-walk still applies as a filter
        require(np.label.isEmpty ||
          frame.get.columns.contains(s"${np.name} __label"),
          "internal: rebound node lost its label column")
        np.label.foreach(l => frame = frame.map(_.filter(labelCol(np.name) === l)))
        np.props.foreach { case (k, pe) =>
          frame = frame.map(_.filter(
            st.propGet(propsCol(np.name), st.vertexPropsIsMap, k) === st.constCol(pe)))
        }
        joinOn.foreach(c => frame = frame.map(_.filter(c === idCol(np.name))))
      } else {
        val nf = st.nodeFrame(np)
        frame = frame match {
          case None => Some(nf)
          case Some(f) => joinOn match {
            case Some(c) => Some(f.join(nf, c === idCol(np.name)))
            // comma-disconnected pattern: Cypher semantics are the
            // cross product (normally constrained by WHERE)
            case None => Some(f.crossJoin(nf))
          }
        }
        bound += np.name
      }
    }

    part.paths.foreach { path =>
      // general path binding (round 16): accumulate the node-id /
      // rel-text / hop-count fragments per hop; composed into the
      // binding's three columns after the path's last hop. The rel
      // render is the STORED-orientation triple text (the edge's
      // identity — see CypherAst.PathRels).
      val wantPath = path.pathVar.isDefined
      val pNodeFrags = scala.collection.mutable.ArrayBuffer.empty[Column]
      val pRelFrags = scala.collection.mutable.ArrayBuffer.empty[Column]
      val pLenTerms = scala.collection.mutable.ArrayBuffer.empty[Column]
      val pTempCols = scala.collection.mutable.ArrayBuffer.empty[String]
      def relText(n: String): Column =
        concat(col(s"$n __src"), lit("-["), col(s"$n __rel"), lit("]->"),
          col(s"$n __dst"))
      bindNode(path.nodes.head, None)
      if (wantPath) pNodeFrags += array(idCol(path.nodes.head.name))
      path.edges.zipWithIndex.foreach { case (e, i) =>
        val leftV = path.nodes(i).name
        val rightN = path.nodes(i + 1)
        e.range match {
          case None =>
            val ef = st.edgeFrameDir(e, e.name)
            st.edgeVars += e.name
            hops += ((e.name, e.types.toSet))
            val (fromSide, toSide) =
              (s"${e.name} __from", s"${e.name} __to")
            frame = Some(frame.get.join(ef, idCol(leftV) === col(fromSide)))
            bindNode(rightN, Some(col(toSide)))
            frame = frame.map(_.drop(fromSide, toSide))
            if (wantPath) {
              pNodeFrags += array(idCol(rightN.name))
              pRelFrags += array(relText(e.name))
              pLenTerms += lit(1L)
            }
          case Some((lo, hiOpt)) =>
            if (!e.name.startsWith("  "))
              throw new IllegalArgumentException(
                "a variable-length relationship cannot be named " +
                "(openCypher binds it to a LIST; project endpoints instead)")
            val keepHops = path.shortest.isEmpty
            /** Null-pad a depth-k level to the full hop-column set so
              * the per-depth frames union to one schema (the retained
              * triples feed the end-of-part trail conditions). */
            def depthSelect(lvl: DataFrame, names: Seq[String], k: Int,
                            startC: Column): DataFrame = {
              val base = Seq(startC.as("  vstart"),
                col(s"${names(k - 1)} __to").as("  vend"),
                lit(k.toLong).as("  vdepth"))
              // path binding (general OR shortestPath, round 16): the
              // traversal's intermediate+end node ids and per-hop rel
              // text as per-depth ARRAYS (they union across depths
              // without padding)
              val pathCols =
                if (!wantPath && path.shortest.isEmpty) Nil
                else Seq(
                  array(names.take(k).map(n => col(s"$n __to")): _*)
                    .as("  vnodes"),
                  array(names.take(k).map(relText): _*).as("  vrels"))
              val hopCols =
                if (!keepHops) Nil
                else names.zipWithIndex.flatMap { case (n, j) =>
                  if (j < k)
                    Seq(col(s"$n __src"), col(s"$n __dst"), col(s"$n __rel"))
                  else Seq(
                    lit(null).cast(st.srcType).as(s"$n __src"),
                    lit(null).cast(st.dstType).as(s"$n __dst"),
                    lit(null).cast(st.relTypeDt).as(s"$n __rel"))
                }
              lvl.select(base ++ pathCols ++ hopCols: _*)
            }
            val (hopNames: Seq[String], unioned: DataFrame) = hiOpt match {
              case Some(hi) =>
                // BOUNDED range: union of fixed-length join chains,
                // (start, end) per PATH — no distinct, one output row
                // per path instantiation (shortestPath collapses to
                // min length per pair below). Chain hop triples are
                // kept (null-padded to `hi`) so end-of-part trail
                // conditions can compare them against fixed hops /
                // other chains; pairwise triple inequality INSIDE the
                // chain is openCypher's relationship uniqueness (an
                // undirected chain cannot re-walk an edge backwards —
                // the stored orientation is the identity).
                val names = (1 to hi).map(_ => freshHop())
                val chains = (lo to hi).map { k =>
                  val ns = names.take(k)
                  var cf = st.edgeFrameDir(e.copy(name = ns.head), ns.head)
                  (1 until k).foreach { j =>
                    val prev = ns(j - 1); val cur = ns(j)
                    val ef = st.edgeFrameDir(e.copy(name = cur), cur)
                    cf = cf.join(ef, col(s"$prev __to") === col(s"$cur __from"))
                  }
                  val uniq = for {
                    a <- ns.indices; b <- (a + 1) until ns.length
                  } yield tripleNeq(ns(a), ns(b))
                  val cu = uniq.foldLeft(cf)((d, c) => d.filter(c))
                  depthSelect(cu, names, k, col(s"${ns.head} __from"))
                }
                (names, chains.reduce(_ unionByName _))
              case None =>
                // OPEN range ([*], [*m..]): converge to the
                // trail-semantics FIXPOINT — openCypher's unbounded
                // semantics, no silent hop cap (round 13; the round-12
                // cap silently truncated >8-hop paths and collapsed
                // [*m..] with m>8 to exactly m). The expansion is
                // data-dependent, so compiling it RUNS JOBS: each
                // level joins the previous frontier to the edge frame
                // under the trail condition (the new hop must differ
                // from every prior hop of the path — which also makes
                // the iteration finite: a path holds each edge at most
                // once), localCheckpoints the level (path-set sized,
                // lineage-truncated) and stops at the first empty one.
                // Seeded from the DISTINCT start ids, so the work is
                // proportional to paths from the pattern's actual
                // start set, never to the global graph.
                val starts = frame.get
                  .select(idCol(leftV).as("  vstart")).distinct()
                  .localCheckpoint(true)
                val names = scala.collection.mutable.ArrayBuffer.empty[String]
                val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
                // one materialized level per hop: a deep expansion is
                // inherently latency-bound (each hop DEPENDS on the
                // previous — every engine serializes here); lazier
                // block batching was measured SLOWER (AQE re-plans
                // each chained join as its own broadcast stage), so
                // the simple one-job-per-level form stands.
                var growing = !starts.isEmpty
                while (growing) {
                  val n = freshHop()
                  val ef = st.edgeFrameDir(e.copy(name = n), n)
                  val prev = if (levels.isEmpty) starts else levels.last
                  val key = if (levels.isEmpty) col("  vstart")
                            else col(s"${names.last} __to")
                  val joined = prev.join(ef, key === col(s"$n __from"))
                  val filtered = names.foldLeft(joined)((d, m) =>
                    d.filter(tripleNeq(m, n)))
                  // __from served the join; __eprops is unreadable on
                  // a var-length edge (it cannot be named) — drop both
                  val lvl = filtered.drop(s"$n __from", s"$n __eprops")
                    .localCheckpoint(true)
                  if (lvl.isEmpty) growing = false
                  else { names += n; levels += lvl }
                }
                val chains = (lo to levels.length).map(k =>
                  depthSelect(levels(k - 1), names.toSeq, k, col("  vstart")))
                val u =
                  if (chains.nonEmpty) chains.reduce(_ unionByName _)
                  else {
                    val empty = starts.limit(0).select(col("  vstart"),
                      col("  vstart").as("  vend"), lit(0L).as("  vdepth"))
                    if (!wantPath && path.shortest.isEmpty) empty
                    else empty
                      .withColumn("  vnodes", array().cast(
                        org.apache.spark.sql.types.ArrayType(st.dstType)))
                      .withColumn("  vrels", array().cast("array<string>"))
                  }
                (names.toSeq, u)
            }
            val expanded = path.shortest match {
              case Some(pvar) =>
                val plen = s"$pvar __plen"
                val pn = s"$pvar __pnodes"
                val pr = s"$pvar __prels"
                st.pathVars += pvar -> plen
                st.pathListCols += pvar -> ((pn, pr))
                if (path.shortestAll)
                  // allShortestPaths: EVERY path at the pair's
                  // minimum length, one row each — the per-pair min
                  // is a tiny aggregate (pair-sized, the broadcast
                  // side) equi-joined back onto the expansion
                  unioned
                    .join(unioned
                        .groupBy(col("  vstart").as("  mstart"),
                          col("  vend").as("  mend"))
                        .agg(min(col("  vdepth")).as("  mdepth")),
                      col("  vstart") === col("  mstart") &&
                        col("  vend") === col("  mend") &&
                        col("  vdepth") === col("  mdepth"))
                    .drop("  mstart", "  mend", "  mdepth")
                    .withColumnRenamed("  vdepth", plen)
                    .withColumnRenamed("  vnodes", pn)
                    .withColumnRenamed("  vrels", pr)
                else
                  // openCypher shortestPath: ONE row per (start, end)
                  // pair — openCypher returns SOME shortest path; the
                  // engine's instance is the lexicographically
                  // smallest (depth, nodes, rels) triple, i.e. ONE
                  // deterministic, oracle-pinnable representative via
                  // a single hash aggregate, never a traversal
                  unioned.groupBy(col("  vstart"), col("  vend"))
                    .agg(min(struct(col("  vdepth"), col("  vnodes"),
                      col("  vrels"))).as("  mrep"))
                    .select(col("  vstart"), col("  vend"),
                      col("  mrep").getField("  vdepth").as(plen),
                      col("  mrep").getField("  vnodes").as(pn),
                      col("  mrep").getField("  vrels").as(pr))
              case None if wantPath =>
                // path binding: keep this edge's depth + node/rel
                // arrays under per-edge names (several var-length
                // edges in one bound path cannot clash); composed
                // into the binding's columns after the last hop
                val vd = s"${e.name} __vdepth"
                val vn = s"${e.name} __vnodes"
                val vr = s"${e.name} __vrels"
                pLenTerms += col(vd)
                pNodeFrags += col(vn)
                pRelFrags += col(vr)
                pTempCols ++= Seq(vd, vn, vr)
                unioned.withColumnRenamed("  vdepth", vd)
                  .withColumnRenamed("  vnodes", vn)
                  .withColumnRenamed("  vrels", vr)
              case None => unioned.drop("  vdepth")
            }
            frame = Some(frame.get.join(expanded,
              idCol(leftV) === col("  vstart")))
            // shortest binding: the arrays carry the hops only —
            // prepend the anchor to complete the node list (the
            // general binding does this through its fragments)
            path.shortest.foreach { pvar =>
              val pn = s"$pvar __pnodes"
              frame = frame.map(_.withColumn(pn,
                concat(array(idCol(leftV)), col(pn))))
            }
            bindNode(rightN, Some(col("  vend")))
            frame = frame.map(_.drop("  vstart", "  vend"))
            if (keepHops) varHops += ((hopNames, e.types.toSet))
        }
      }
      path.pathVar.foreach { pvar =>
        if (st.nodes.contains(pvar) || st.edgeVars.contains(pvar) ||
            st.valueCols.contains(pvar) || st.pathVars.contains(pvar))
          throw new IllegalArgumentException(
            s"path variable $pvar is already declared")
        val pn = s"$pvar __pnodes"
        val pr = s"$pvar __prels"
        val pl = s"$pvar __plen"
        val nodesC =
          if (pNodeFrags.length == 1) pNodeFrags.head
          else concat(pNodeFrags.toSeq: _*)
        val relsC =
          if (pRelFrags.isEmpty) lit(Array.empty[String])
          else if (pRelFrags.length == 1) pRelFrags.head
          else concat(pRelFrags.toSeq: _*)
        val lenC = pLenTerms.foldLeft(lit(0L))(_ + _).cast("long")
        frame = frame.map(_.withColumn(pn, nodesC).withColumn(pr, relsC)
          .withColumn(pl, lenC).drop(pTempCols.toSeq: _*))
        st.pathVars += pvar -> pl
        st.pathListCols += pvar -> ((pn, pr))
      }
    }
    // trail semantics ACROSS the hops of this part: any two hops
    // whose type sets can overlap must be distinct edges. (Hops with
    // disjoint explicit type sets can never collide — no condition.)
    // Three pair classes: fixed↔fixed, fixed↔var-length chain hop,
    // chain↔chain of different var-length edges — the retained
    // (null-padded) chain columns make the last two checkable here.
    def mayCollide(ta: Set[String], tb: Set[String]): Boolean =
      ta.isEmpty || tb.isEmpty || (ta intersect tb).nonEmpty
    val cross = for {
      a <- hops.indices; b <- (a + 1) until hops.length
      (na, ta) = hops(a); (nb, tb) = hops(b)
      if mayCollide(ta, tb)
    } yield tripleNeq(na, nb)
    val fixedVar = for {
      (na, ta) <- hops
      (vnames, vt) <- varHops
      if mayCollide(ta, vt)
      nb <- vnames
    } yield tripleNeq(na, nb)
    val varVar = for {
      i <- varHops.indices; j <- (i + 1) until varHops.length
      (va, ta) = varHops(i); (vb, tb) = varHops(j)
      if mayCollide(ta, tb)
      a <- va; b <- vb
    } yield tripleNeq(a, b)
    val framed = (cross ++ fixedVar ++ varVar)
      .foldLeft(frame.get)((d, c) => d.filter(c))
    // the chain hop columns served the trail conditions only
    val varCols = varHops.flatMap(_._1)
      .flatMap(n => Seq(s"$n __src", s"$n __dst", s"$n __rel"))
    (framed.drop(varCols.toSeq: _*), bound.toSeq)
  }

  /** Join a compiled MATCH part onto the accumulated frame: inner on
    * shared variables for plain MATCH, left outer for OPTIONAL; cross
    * product when nothing is shared (plain MATCH only). `where` is
    * the part's own WHERE (openCypher binds WHERE to the preceding
    * MATCH): for plain parts it is a post-join filter (== a join
    * condition under inner semantics); for OPTIONAL parts it must
    * filter the MATCHES, not the joined rows — a left row whose every
    * candidate fails the filter keeps its row with nulls. The filter
    * may reference outer variables, so it evaluates on the joined
    * frame; null-extension then goes per shared KEY, which is
    * row-correct because a part's matches depend only on the shared
    * keys. */
  /** Variable names an expression references. */
  private def freeVars(e: Expr): Set[String] = e match {
    case Prop(v, _) => Set(v)
    case Id(v) => Set(v)
    case Var(v) => Set(v)
    case LabelOf(v) => Set(v)
    case LabelsOf(v) => Set(v)
    case PathLen(v) => Set(v)
    case PathNodes(v) => Set(v)
    case PathRels(v) => Set(v)
    case DurBetween(a, b) => freeVars(a) ++ freeVars(b)
    case DurMake(items) => items.values.flatMap(freeVars).toSet
    case ToInt(x) => freeVars(x)
    case ToFloat(x) => freeVars(x)
    case Coalesce(es) => es.flatMap(freeVars).toSet
    case StrFn(_, args) => args.flatMap(freeVars).toSet
    case TypeOf(v) => Set(v)
    case Keys(v) => Set(v)
    case PropsOf(v) => Set(v)
    case ExistsPat(path, _) => path.nodes.map(_.name).toSet
    case CaseWhen(bs, o) =>
      bs.flatMap { case (c, v) => freeVars(c) ++ freeVars(v) }.toSet ++
        o.map(freeVars).getOrElse(Set.empty)
    case AggFn(_, _, arg, extra) =>
      arg.map(freeVars).getOrElse(Set.empty) ++
        extra.map(freeVars).getOrElse(Set.empty)
    case Cmp(_, l, r) => freeVars(l) ++ freeVars(r)
    case Arith(_, l, r) => freeVars(l) ++ freeVars(r)
    case IsNull(x, _) => freeVars(x)
    case InList(x, _) => freeVars(x)
    case StrPred(_, l, r) => freeVars(l) ++ freeVars(r)
    case And(l, r) => freeVars(l) ++ freeVars(r)
    case Or(l, r) => freeVars(l) ++ freeVars(r)
    case Not(x) => freeVars(x)
    case PatComp(path, _, _) => path.nodes.map(_.name).toSet
    case MapProj(v, items, _) =>
      Set(v) ++ items.flatMap(_._2.toSeq).flatMap(freeVars)
    // lambda forms: the bound variable is NOT free in the body
    case ListComp(v, l, w, proj) =>
      freeVars(l) ++
        (w.map(freeVars).getOrElse(Set.empty) ++
          proj.map(freeVars).getOrElse(Set.empty) - v)
    case Reduce(acc, init, v, l, body) =>
      freeVars(init) ++ freeVars(l) ++ (freeVars(body) - acc - v)
    case Quant(_, v, l, pred) => freeVars(l) ++ (freeVars(pred) - v)
    case _ => Set.empty // Lit, Param, ListLit
  }

  /** A MATCH part that is one key-identified node pattern (see
    * [[St.keyId]]): under the store's uniqueness contract it binds at
    * most one row. */
  private def isKeyPoint(st: St, part: MatchPart): Boolean =
    part.paths match {
      case Seq(p) if p.edges.isEmpty && p.pathVar.isEmpty &&
          p.shortest.isEmpty =>
        p.nodes.size == 1 && st.keyId(p.nodes.head).isDefined
      case _ => false
    }

  private def attach(st: St, pf: DataFrame, bound: Seq[String],
                     optional: Boolean, where: Option[Expr],
                     partLocal: Set[String], keyPoint: Boolean): Unit = {
    st.frame match {
      case None =>
        require(!optional, "query cannot start with OPTIONAL MATCH")
        st.nodes ++= bound
        st.frame = Some(where.fold(pf)(e => applyPredicate(st, pf, e)))
      case Some(f) =>
        val shared = bound.filter(st.nodes.contains)
        val fresh = bound.filterNot(st.nodes.contains)
        st.nodes ++= fresh // in scope for the part's own WHERE
        if (shared.isEmpty) {
          if (optional) throw new IllegalArgumentException(
            "OPTIONAL MATCH must share at least one variable with an " +
            "earlier MATCH")
          // a key-identified point part binds at most one row: cross
          // it in as a broadcast (BroadcastNestedLoopJoin). Unhinted,
          // a checkpointed standing frame has no size estimate and the
          // cross plans as a CartesianProduct with one task per
          // partition PAIR — the WeatherDay edge MERGE's
          // `MATCH (s:Station …) MATCH (wd:WeatherDay …)` prefix
          val joined = f.crossJoin(if (keyPoint) broadcast(pf) else pf)
          st.frame =
            Some(where.fold(joined)(e => applyPredicate(st, joined, e)))
        } else {
          // shared vars: drop the re-bound label/props duplicates and
          // using-join on the id columns (left side keeps its values)
          val pfPruned = shared.foldLeft(pf)((d, v) =>
            d.drop(s"$v __label", s"$v __props"))
          val keys = shared.map(v => s"$v __id")
          st.frame = (optional, where) match {
            case (false, w) =>
              val joined = f.join(pfPruned, keys, "inner")
              Some(w.fold(joined)(e => applyPredicate(st, joined, e)))
            case (true, None) =>
              Some(f.join(pfPruned, keys, "left_outer"))
            case (true, Some(e)) =>
              // soundness of the per-key null-extension: every value
              // the filter reads must be determined by the shared
              // keys — true for the part's own variables and for
              // shared nodes (their id/label/props are functions of
              // the id), NOT for other outer variables. Reject the
              // rest loudly instead of extending wrongly.
              val allowed = bound.toSet ++ partLocal
              val outerRefs = freeVars(e) -- allowed
              if (outerRefs.nonEmpty) throw new IllegalArgumentException(
                s"OPTIONAL MATCH WHERE may reference the optional " +
                s"pattern's variables and the ones it shares with " +
                s"earlier clauses; not: ${outerRefs.mkString(", ")}")
              val kept = f.join(pfPruned, keys, "inner")
                .filter(exprCol(st, e))
              val extra = pfPruned.schema.filterNot(sf => keys.contains(sf.name))
              val missing = f.join(
                  kept.select(keys.map(col): _*).distinct(), keys, "left_anti")
                .select(f.columns.map(col).toSeq ++
                  extra.map(sf => lit(null).cast(sf.dataType).as(sf.name)): _*)
              Some(kept.unionByName(missing))
          }
        }
    }
  }

  // ---- expressions ------------------------------------------------
  /** Does the expression yield a LIST? Static (no schema probe):
    * keys() is a list; a value variable is a list iff it was projected
    * from collect()/keys() (tracked in St.arrayVars). */
  private def yieldsList(st: St, e: Expr): Boolean = e match {
    case Keys(_) => true
    case LabelsOf(_) => true
    case AggFn("collect", _, _, _) => true
    case StrFn("split" | "range", _) => true
    case ListLit(_) => true
    case ListComp(_, _, _, _) => true
    case PatComp(_, _, _) => true
    case PathNodes(_) => true
    case PathRels(_) => true
    case Var(v) => st.arrayVars.contains(v)
    case _ => false
  }

  /** Lift pattern comprehensions out of a projection item (round 15):
    * each `[(a)-[:R]->(b) WHERE p | e]` compiles ONCE into a grouped
    * subframe — the pattern matched STANDALONE in a child state (its
    * variables never leak), filtered by the WHERE, the projection
    * collected per anchor id (`sort_array(collect_list(…))` — a
    * canonical order, since openCypher leaves it unspecified;
    * documented deviation: collect_list also DROPS null projection
    * entries, where Neo4j keeps them in match order — a projection
    * over a sometimes-absent property yields a shorter list here,
    * and the oracle entries mirror that null-drop) — then
    * LEFT-joins onto the row frame on the anchor ids, null-coalesced
    * to the empty list (the no-matches contract). The rewritten item
    * references the hidden collected column through a Var, so
    * comprehensions compose inside larger expressions
    * (`size([…])`, `toString([…])`). The WHERE may reference the
    * pattern's own variables (outer-row correlation beyond the
    * anchors fails loudly as unbound). */
  private def liftPatComps(st: St, df0: DataFrame, e0: Expr)
      : (DataFrame, Expr) = {
    var df = df0
    def lift(e: Expr): Expr = e match {
      case PatComp(path, where, proj) =>
        val anchors =
          path.nodes.map(_.name).filter(st.nodes.contains).distinct
        if (anchors.isEmpty) throw new IllegalArgumentException(
          "a pattern comprehension must anchor at a bound node variable")
        val stc = newState(st.g, st.params)
        val (pf, bound) =
          compilePart(stc, MatchPart(Seq(path), optional = false, None))
        stc.nodes ++= bound
        stc.frame = Some(pf)
        val filtered = where.fold(pf)(w => applyPredicate(stc, pf, w))
        stc.frame = Some(filtered)
        val alias = s"  pc${st.valueCols.size}"
        val cn = s"$alias __val"
        val keys = anchors.map(v => s"$v __id")
        val grouped = filtered.groupBy(keys.map(col): _*)
          .agg(sort_array(collect_list(exprCol(stc, proj))).as(cn))
        df = df.join(grouped, keys, "left_outer")
          .withColumn(cn, coalesce(col(cn), array()))
        st.valueCols += alias -> cn
        st.arrayVars += alias
        Var(alias)
      case ToInt(x) => ToInt(lift(x))
      case ToFloat(x) => ToFloat(lift(x))
      case Coalesce(es) => Coalesce(es.map(lift))
      case StrFn(n, args) => StrFn(n, args.map(lift))
      case CaseWhen(bs, o) =>
        CaseWhen(bs.map { case (c, v) => (lift(c), lift(v)) }, o.map(lift))
      case AggFn(n, d, a, x) => AggFn(n, d, a.map(lift), x.map(lift))
      case Cmp(op, l, r) => Cmp(op, lift(l), lift(r))
      case Arith(op, l, r) => Arith(op, lift(l), lift(r))
      case IsNull(x, n) => IsNull(lift(x), n)
      case StrPred(op, l, r) => StrPred(op, lift(l), lift(r))
      case And(l, r) => And(lift(l), lift(r))
      case Or(l, r) => Or(lift(l), lift(r))
      case Not(x) => Not(lift(x))
      case ListComp(v, l, w, proj) =>
        ListComp(v, lift(l), w.map(lift), proj.map(lift))
      case Reduce(acc, init, v, l, body) =>
        Reduce(acc, lift(init), v, lift(l), lift(body))
      case Quant(k, v, l, pred) => Quant(k, v, lift(l), lift(pred))
      case MapProj(v, items, s) =>
        MapProj(v, items.map { case (k, oe) => (k, oe.map(lift)) }, s)
      case other => other
    }
    val lifted = lift(e0)
    (df, lifted)
  }

  /** [[liftPatComps]] over a projection item list (RETURN/WITH). */
  private def liftItems(st: St, df0: DataFrame, items: Seq[Item])
      : (DataFrame, Seq[Item]) = {
    var df = df0
    val out = items.map { it =>
      it.expr match {
        case Some(e) =>
          val (d2, e2) = liftPatComps(st, df, e)
          df = d2
          it.copy(expr = Some(e2))
        case None => it
      }
    }
    (df, out)
  }

  /** Bind a lambda variable for the duration of `body`'s compile —
    * the list-comprehension/reduce/quantifier scope (round 15).
    * Innermost binding shadows; the outer binding (or absence) is
    * restored on exit, so sibling lambdas and frame variables are
    * unaffected. */
  private def withLambda(st: St, v: String, x: Column)(body: => Column)
      : Column = {
    val old = st.lambdaVars.get(v)
    st.lambdaVars(v) = x
    try body
    finally old match {
      case Some(o) => st.lambdaVars(v) = o
      case None => st.lambdaVars -= v
    }
  }

  /** Does the expression yield a property MAP? Only properties(v)
    * over a structured-props graph. */
  private def yieldsMap(st: St, e: Expr): Boolean = e match {
    case PropsOf(v) =>
      if (st.edgeVars.contains(v)) st.edgePropsIsMap else st.vertexPropsIsMap
    case MapProj(_, _, _) => true
    case DurBetween(_, _) => true
    case DurMake(_) => true
    // a re-projected map alias (`WITH row` / `WITH m`) stays a map
    // in the next scope — applyWith resolves this against the OLD
    // scope when rebuilding mapVars
    case Var(v) => st.mapVars.contains(v)
    case _ => false
  }

  /** Component map of a signed whole-second interval: `{days, hours,
    * minutes, seconds, totalSeconds}`, all long-typed — remainders
    * carry the interval's sign (Java truncated division, exact:
    * total = days·86400 + hours·3600 + minutes·60 + seconds). */
  private def durComponents(total: Column): Column = {
    val s1 = total % lit(86400L)
    val s2 = s1 % lit(3600L)
    val s3 = s2 % lit(60L)
    map(
      lit("days"), ((total - s1) / lit(86400L)).cast("long"),
      lit("hours"), ((s1 - s2) / lit(3600L)).cast("long"),
      lit("minutes"), ((s2 - s3) / lit(60L)).cast("long"),
      lit("seconds"), s3.cast("long"),
      lit("totalSeconds"), total.cast("long"))
  }

  private def exprCol(st: St, e: Expr): Column = e match {
    case Prop(v, k) =>
      if (st.edgeVars.contains(v)) {
        if (!st.edgeHasProps) throw new IllegalArgumentException(
          s"$v.$k: the edge table has no props column")
        st.propGet(col(s"$v __eprops"), st.edgePropsIsMap, k)
      } else if (st.nodes.contains(v))
        st.propGet(propsCol(v), st.vertexPropsIsMap, k)
      else if (st.mapVars.contains(v)) // UNWIND row variable
        col(st.valueCols(v)).getItem(k)
      else throw new IllegalArgumentException(s"unbound variable $v")
    case Id(v) =>
      if (!st.nodes.contains(v))
        throw new IllegalArgumentException(s"unbound variable $v")
      idCol(v)
    case Var(v) =>
      if (st.lambdaVars.contains(v)) st.lambdaVars(v)
      else if (st.nodes.contains(v)) idCol(v)
      else if (st.edgeVars.contains(v)) col(s"$v __rel")
      else if (st.valueCols.contains(v)) col(st.valueCols(v))
      else if (st.pathListCols.contains(v)) throw new IllegalArgumentException(
        s"$v is a path binding — project it via length($v) / " +
        s"nodes($v) / relationships($v), not the path value itself")
      else if (st.pathVars.contains(v)) throw new IllegalArgumentException(
        s"$v is a shortestPath binding — only length($v) is supported")
      else throw new IllegalArgumentException(s"unbound variable $v")
    case PathLen(v) =>
      if (st.pathVars.contains(v)) col(st.pathVars(v))
      else if (st.valueCols.contains(v)) col(st.valueCols(v))
      else throw new IllegalArgumentException(
        s"length($v): $v is not a path binding")
    case PathNodes(v) =>
      if (st.pathListCols.contains(v)) col(st.pathListCols(v)._1)
      else throw new IllegalArgumentException(
        s"nodes($v): $v is not a path binding")
    case PathRels(v) =>
      if (st.pathListCols.contains(v)) col(st.pathListCols(v)._2)
      else throw new IllegalArgumentException(
        s"relationships($v): $v is not a path binding")
    case DurBetween(a, b) =>
      // normalized signed whole-second interval a→b as a component
      // map (see CypherAst.DurBetween). unix_timestamp under the UTC
      // session zone; ISO date and datetime strings both cast.
      val total = (unix_timestamp(exprCol(st, b).cast("timestamp")) -
        unix_timestamp(exprCol(st, a).cast("timestamp"))).cast("long")
      durComponents(total)
    case DurMake(items) =>
      // constructor components are literals/params → the total is
      // compile-time constant; emit a literal map
      val unit = Map("weeks" -> 604800L, "days" -> 86400L,
        "hours" -> 3600L, "minutes" -> 60L, "seconds" -> 1L)
      val total = items.foldLeft(0L) { case (acc, (k, e)) =>
        val f = unit.getOrElse(k.toLowerCase,
          throw new IllegalArgumentException(
            s"duration() component must be one of " +
            s"${unit.keys.toSeq.sorted.mkString("/")}, got $k"))
        val n = st.constValue(e) match {
          case n: Number => n.longValue
          case other => throw new IllegalArgumentException(
            s"duration() component $k must be a number, got $other")
        }
        acc + f * n
      }
      durComponents(lit(total))
    case LabelOf(v) =>
      if (!st.nodes.contains(v))
        throw new IllegalArgumentException(s"unbound variable $v")
      labelCol(v)
    case LabelsOf(v) =>
      // openCypher's list form; single-label graphs → 1-element list
      if (!st.nodes.contains(v))
        throw new IllegalArgumentException(s"unbound variable $v")
      array(labelCol(v))
    case Lit(value) => lit(value)
    case Param(n) => st.paramLit(n)
    case TemporalFn(kind, inner) =>
      lit(renderTemporal(kind, st.constValue(inner)))
    case AggFn(name, dist, arg, extra) => aggColumn(st, name, dist, arg, extra)
    case ToInt(x) => exprCol(st, x).cast("long")
    case ToFloat(x) => exprCol(st, x).cast("double")
    case Coalesce(es) => coalesce(es.map(exprCol(st, _)): _*)
    case TypeOf(v) =>
      if (st.edgeVars.contains(v)) col(s"$v __rel")
      else throw new IllegalArgumentException(
        s"type($v): $v is not a relationship variable")
    case Keys(v) =>
      // sorted key list: deterministic (openCypher leaves the order
      // unspecified), map_keys on the structured layout,
      // json_object_keys on the JSON layout — both codegen-friendly
      // relative to per-key extraction
      if (st.nodes.contains(v))
        sort_array(if (st.vertexPropsIsMap) map_keys(propsCol(v))
                   else json_object_keys(propsCol(v)))
      else if (st.edgeVars.contains(v)) {
        if (!st.edgeHasProps) throw new IllegalArgumentException(
          s"keys($v): the edge table has no props column")
        sort_array(if (st.edgePropsIsMap) map_keys(col(s"$v __eprops"))
                   else json_object_keys(col(s"$v __eprops")))
      } else throw new IllegalArgumentException(s"unbound variable $v")
    case PropsOf(v) =>
      if (st.nodes.contains(v)) propsCol(v)
      else if (st.edgeVars.contains(v)) {
        if (!st.edgeHasProps) throw new IllegalArgumentException(
          s"properties($v): the edge table has no props column")
        col(s"$v __eprops")
      } else throw new IllegalArgumentException(s"unbound variable $v")
    case StrFn(name, args) =>
      val a = args.map(exprCol(st, _))
      name match {
        case "tolower" => lower(a.head)
        case "toupper" => upper(a.head)
        case "trim" => trim(a.head)
        case "size" =>
          // openCypher size() is overloaded: list length for lists,
          // string length for strings — resolved statically from the
          // expression shape (collect()/keys() bindings are lists)
          if (yieldsList(st, args.head)) size(a.head).cast("long")
          else length(a.head).cast("long")
        case "tostring" =>
          // scalar → string cast; list/map containers render as
          // canonical JSON text (the engine's documented extension —
          // openCypher toString() takes scalars only, but a JSON
          // render is the honest wire/oracle form for containers)
          if (yieldsList(st, args.head) || yieldsMap(st, args.head))
            to_json(a.head)
          else a.head.cast("string")
        case "abs" => abs(a.head)
        case "round" =>
          // openCypher round(x) and the 2-arg precision form; the
          // scale must be a literal (Spark's round signature)
          if (args.length == 1) round(a.head)
          else args(1) match {
            case Lit(n: Long) => round(a.head, n.toInt)
            case other => throw new IllegalArgumentException(
              s"round() scale must be an integer literal, got $other")
          }
        case "substring" =>
          // openCypher start is 0-BASED; Column.substr is 1-based
          val start = a(1).cast("int") + lit(1)
          val len = if (a.length == 3) a(2).cast("int")
                    else length(a.head) // to the end
          a.head.substr(start, len)
        case "replace" => replace(a.head, a(1), a(2))
        case "split" =>
          // Neo4j split() delimiter is a LITERAL, Spark's is a regex —
          // quote it. Literal-only: Spark's split takes a String
          // pattern, and a dynamic delimiter doesn't appear in any
          // consumer corpus.
          args(1) match {
            case Lit(s: String) =>
              split(a.head, java.util.regex.Pattern.quote(s), -1)
            case other => throw new IllegalArgumentException(
              s"split() delimiter must be a string literal, got $other")
          }
        // head()/last() return null on an empty list (openCypher);
        // get() is out-of-bounds-null regardless of the ANSI flag, so
        // the compiled form doesn't depend on session config
        case "head" => get(a.head, lit(0))
        case "last" => get(a.head, size(a.head) - lit(1))
        case "range" =>
          // Cypher range(start, end[, step]) is END-INCLUSIVE — so is
          // Spark's sequence()
          val step = if (a.length == 3) a(2) else lit(1L)
          sequence(a.head.cast("long"), a(1).cast("long"),
            step.cast("long"))
        // scalar math/string tail (round 15) — each the codegen'd
        // Spark builtin, output types per openCypher (floor/ceil are
        // FLOAT, sign is INTEGER)
        case "sqrt" => sqrt(a.head.cast("double"))
        case "floor" => floor(a.head.cast("double")).cast("double")
        case "ceil" => ceil(a.head.cast("double")).cast("double")
        case "sign" => signum(a.head.cast("double")).cast("long")
        case "reverse" => reverse(a.head)
        case "ltrim" => ltrim(a.head)
        case "rtrim" => rtrim(a.head)
        case "left" => a.head.substr(lit(1), a(1).cast("int"))
        case "right" =>
          // last n chars; n past the length clamps to the whole
          // string (Neo4j semantics)
          a.head.substr(
            greatest(length(a.head) - a(1).cast("int") + lit(1), lit(1)),
            a(1).cast("int"))
        case "toboolean" =>
          // Neo4j toBoolean: case-insensitive 'true'/'false' only,
          // null otherwise — NOT Spark's extended boolean-literal
          // cast ('1'/'y'/'yes'/'t' …), which would silently diverge
          val lc = lower(a.head.cast("string"))
          when(lc === "true", lit(true))
            .when(lc === "false", lit(false))
            .otherwise(lit(null).cast("boolean"))
        case other =>
          throw new IllegalArgumentException(s"unknown function $other")
      }
    case ListLit(vals) => array(vals.map(l => lit(l.value)): _*)
    case ListComp(v, l, w, proj) =>
      // filter/transform higher-order builtins — codegen'd, no UDF;
      // the lambda variable binds through the compile state
      val base = exprCol(st, l)
      val filtered = w.map(pred =>
        filter(base, x => withLambda(st, v, x)(exprCol(st, pred))))
        .getOrElse(base)
      proj.map(pe =>
        transform(filtered, x => withLambda(st, v, x)(exprCol(st, pe))))
        .getOrElse(filtered)
    case Reduce(acc, init, v, l, body) =>
      aggregate(exprCol(st, l), exprCol(st, init),
        (a0, x) => withLambda(st, acc, a0)(
          withLambda(st, v, x)(exprCol(st, body))))
    case Quant(kind, v, l, pred) =>
      val base = exprCol(st, l)
      def lam(x: Column): Column = withLambda(st, v, x)(exprCol(st, pred))
      kind match {
        case "all" => forall(base, lam _)
        case "any" => exists(base, lam _)
        case "none" => !exists(base, lam _)
        case "single" => size(filter(base, lam _)) === lit(1)
      }
    case PatComp(_, _, _) => throw new IllegalArgumentException(
      "pattern comprehensions are supported in RETURN/WITH items " +
      "(they compile to a grouped subquery, not a scalar expression)")
    case MapProj(v, items, star) =>
      if (items.isEmpty && !star) throw new IllegalArgumentException(
        s"empty map projection $v {}")
      val (base, isMap) =
        if (st.nodes.contains(v)) (propsCol(v), st.vertexPropsIsMap)
        else if (st.edgeVars.contains(v)) {
          if (!st.edgeHasProps) throw new IllegalArgumentException(
            s"map projection on $v: the edge table has no props column")
          (col(s"$v __eprops"), st.edgePropsIsMap)
        } else throw new IllegalArgumentException(s"unbound variable $v")
      // values cast to STRING: the engine's prop model (Spark maps
      // are homogeneous; openCypher's heterogeneous maps are not
      // representable — documented on the AST node)
      val explicit = items.flatMap {
        case (k, None) =>
          Seq(lit(k), st.propGet(base, isMap, k).cast("string"))
        case (a, Some(e)) => Seq(lit(a), exprCol(st, e).cast("string"))
      }
      if (!star) map(explicit: _*)
      else {
        if (!isMap) throw new IllegalArgumentException(
          "`.*` map projection requires the structured (map-typed) " +
          "props layout")
        if (explicit.isEmpty) base
        else map_concat(
          // explicit entries OVERRIDE the star's copies
          map_filter(base,
            (k, _) => !k.isInCollection(items.map(_._1))),
          map(explicit: _*))
      }
    case CaseWhen(branches, otherwise) =>
      val first = when(exprCol(st, branches.head._1),
        exprCol(st, branches.head._2))
      val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
        acc.when(exprCol(st, c), exprCol(st, v))
      }
      otherwise.fold(chained)(e => chained.otherwise(exprCol(st, e)))
    case Cmp(op, l, r) =>
      val (a, b) = (exprCol(st, l), exprCol(st, r))
      op match {
        case "=" => a === b
        case "<>" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
      }
    case Arith(op, l, r) =>
      // Cypher `+` CONCATENATES strings. The engine's props are typed
      // by use (string storage, numeric via coercion), so `+` stays
      // numeric UNLESS a side is statically a string — a string
      // literal or a string-producing builtin — which is exactly the
      // consumer idiom (`'Mr ' + n.name`). Numeric-prop addition
      // (`n.a + n.b`) keeps its coercion semantics.
      def stringy(e: Expr): Boolean = e match {
        case Lit(_: String) => true
        case StrFn("tostring" | "tolower" | "toupper" | "trim" |
                   "ltrim" | "rtrim" | "replace" | "substring" |
                   "reverse" | "left" | "right", _) => true
        case Arith("+", a0, b0) => stringy(a0) || stringy(b0)
        case _ => false
      }
      val (a, b) = (exprCol(st, l), exprCol(st, r))
      op match {
        case "+" if stringy(l) || stringy(r) =>
          concat(a.cast("string"), b.cast("string"))
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b
      }
    case IsNull(Param(n), notNull) =>
      // constant-fold: a param's null-ness is known at compile time,
      // and non-scalar params (datetime component maps — the
      // irrigation `$end IS NOT NULL` guard) have no Column literal
      if (!st.params.contains(n))
        throw new IllegalArgumentException(s"missing query parameter $$$n")
      val isNull = st.params(n) == null
      lit(if (notNull) !isNull else isNull)
    case IsNull(x, notNull) =>
      if (notNull) exprCol(st, x).isNotNull else exprCol(st, x).isNull
    case InList(x, vals) => exprCol(st, x).isin(vals.map(_.value): _*)
    case StrPred(op, l, r) =>
      val (a, b) = (exprCol(st, l), exprCol(st, r))
      op match {
        case "contains" => a.contains(b)
        case "starts" => a.startsWith(b)
        case "ends" => a.endsWith(b)
      }
    case And(l, r) => exprCol(st, l) && exprCol(st, r)
    case Or(l, r) => exprCol(st, l) || exprCol(st, r)
    case Not(x) => !exprCol(st, x)
    case ExistsPat(_, _) => throw new IllegalArgumentException(
      "exists(pattern) is supported as a top-level WHERE conjunct " +
      "(optionally under NOT) — not inside OR / expressions")
  }

  /** Apply a WHERE expression: top-level AND conjuncts split so
    * `exists(pattern)` / `NOT exists(pattern)` conjuncts become
    * semi / anti joins (existential decorrelation — one hash join per
    * predicate, never a per-row probe); everything else is a Column
    * filter. */
  private def applyPredicate(st: St, df: DataFrame, e: Expr): DataFrame =
    e match {
      case And(l, r) => applyPredicate(st, applyPredicate(st, df, l), r)
      case ExistsPat(path, w) => existsJoin(st, df, path, w, anti = false)
      case Not(ExistsPat(path, w)) =>
        existsJoin(st, df, path, w, anti = true)
      case other => df.filter(exprCol(st, other))
    }

  /** Semi/anti join for a pattern predicate: the pattern compiles
    * standalone (its non-shared variables are existentially
    * quantified away by projecting the shared keys), then joins the
    * frame on the shared variables' ids. */
  private def existsJoin(st: St, df: DataFrame, path: PathPat,
                         where: Option[Expr], anti: Boolean): DataFrame = {
    val snapshot = st.nodes.toSet
    // exists() variables are LOCAL to the predicate: compilePart adds
    // the pattern's edge/path names to the compile state, and leaving
    // them there would let a later reference to an exists()-local name
    // compile to a column absent from the frame (a confusing Spark
    // AnalysisException instead of the compiler's own unbound-variable
    // error). Snapshot and restore around the call.
    val edgeSnap = st.edgeVars.toSeq
    val pathSnap = st.pathVars.toSeq
    val pathListSnap = st.pathListCols.toSeq
    val (pf0, bound) = compilePart(st, MatchPart(Seq(path), optional = false))
    // the brace form's inner WHERE (`EXISTS { … WHERE p }`, round 15)
    // filters the pattern rows BEFORE the join, compiled while the
    // pattern's variables are in scope; it may reference the
    // pattern's own variables (shared ones included)
    val pf = where.fold(pf0) { w =>
      // the predicate compiles against the PATTERN's standalone
      // frame, so a reference to an outer-scope variable the pattern
      // does not bind (legal full correlation in Neo4j) has no
      // column there — reject it as the compiler's own unsupported
      // error instead of a raw AnalysisException downstream
      val patLocal = bound.toSet ++ path.edges.map(_.name) ++ path.pathVar
      val outer = freeVars(w) -- patLocal -- st.lambdaVars.keySet
      if (outer.nonEmpty) throw new IllegalArgumentException(
        s"EXISTS { … WHERE … }: the predicate references " +
        s"${outer.mkString(", ")} not bound in the pattern — " +
        "correlation on outer variables beyond the pattern's shared " +
        "node variables is unsupported")
      val added = bound.filterNot(snapshot.contains)
      st.nodes ++= added
      val f = pf0.filter(exprCol(st, w))
      st.nodes --= added
      f
    }
    st.edgeVars.clear(); st.edgeVars ++= edgeSnap
    st.pathVars.clear(); st.pathVars ++= pathSnap
    st.pathListCols.clear(); st.pathListCols ++= pathListSnap
    val shared = bound.filter(snapshot.contains)
    if (shared.isEmpty) throw new IllegalArgumentException(
      "exists(pattern) must share at least one variable with the " +
      "surrounding query")
    val keys = shared.map(v => s"$v __id")
    val keyFrame = pf.select(keys.map(col): _*)
    df.join(keyFrame, keys, if (anti) "left_anti" else "left_semi")
  }

  // ---- RETURN -------------------------------------------------------
  private def returnClause(st: St, df0: DataFrame, r0: Return): DataFrame = {
    // pattern comprehensions join their collected lists on first
    // (round 15) — every later path reads them as value columns
    val (df, items1) = liftItems(st, df0, r0.items)
    val r = r0.copy(items = items1)
    val hasAgg = r.items.exists(isAggItem)
    val aliasSet = r.items.map(_.alias).toSet
    // a bare identifier in ORDER BY resolves against the RETURN item
    // aliases first (the common `ORDER BY alias` form); anything else
    // is an expression over the pre-projection scope, computed into a
    // hidden column and dropped after the sort
    def aliasRef(e: Expr): Option[String] = e match {
      case Var(v) if aliasSet(v) => Some(v)
      case _ => None
    }
    val needsHidden = r.orderBy.exists(o => aliasRef(o.key).isEmpty)
    def dir(c: Column, asc: Boolean): Column = if (asc) c.asc else c.desc

    val sorted =
      if (!hasAgg && needsHidden) {
        if (r.distinct) throw new IllegalArgumentException(
          "ORDER BY on an expression not in RETURN cannot follow " +
          "RETURN DISTINCT (the sorted value is not part of the rows)")
        val itemCols = r.items.map(it => exprCol(st, it.expr.get).as(it.alias))
        val hidden = r.orderBy.zipWithIndex.map { case (o, i) =>
          aliasRef(o.key) match {
            case Some(a) => (None, dir(col(a), o.asc))
            case None =>
              val h = s"  ord$i"
              (Some(exprCol(st, o.key).as(h)), dir(col(h), o.asc))
          }
        }
        val withHidden = df.select(itemCols ++ hidden.flatMap(_._1): _*)
        withHidden.orderBy(hidden.map(_._2): _*)
          .drop(hidden.zipWithIndex.collect {
            case ((Some(_), _), i) => s"  ord$i" }: _*)
      } else {
        val projected =
          if (!hasAgg) {
            val cols = r.items.map(it => exprCol(st, it.expr.get).as(it.alias))
            val d = df.select(cols: _*)
            if (r.distinct) d.distinct() else d
          } else {
            // openCypher implicit grouping: non-aggregate items are keys
            val keys = r.items.filterNot(isAggItem)
              .map(it => exprCol(st, it.expr.get).as(it.alias))
            val aggs = r.items.filter(isAggItem)
              .map(it => aggItemCol(st, it).as(it.alias))
            val grouped =
              if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
              else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
            // restore the RETURN item order (groupBy puts keys first)
            grouped.select(r.items.map(it => col(it.alias)): _*)
          }
        if (r.orderBy.isEmpty) projected
        else projected.orderBy(r.orderBy.map { o =>
          val a = aliasRef(o.key).getOrElse(
            throw new IllegalArgumentException(
              "after aggregation, ORDER BY must reference RETURN aliases"))
          dir(col(a), o.asc)
        }: _*)
      }
    val skipped = r.skip.fold(sorted)(n => sorted.offset(n.toInt))
    r.limit.fold(skipped)(n => skipped.limit(n.toInt))
  }
}
