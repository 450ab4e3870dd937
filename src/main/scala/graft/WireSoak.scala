package graft

/** Wire-sink scale soak: drive [[graft.sinks.CypherSink.writeGraph]]
  * through the REAL TCP Bolt transport over an amplified (~10× sf0.1)
  * fixture, sweeping the UNWIND batch size — the knob the reference
  * hardcodes (BATCH_SIZE=1000, graph_app_nutrient_content.py:137) and
  * a 1000-executor deployment must size to its own latency/row-size
  * curve.
  *
  * `runMain graft.WireSoak <sfDir> [batchSizes]` (default
  * 500,1000,5000). The fixture graph is STAGED to parquet before the
  * timed region, so the wall numbers are the wire write (sockets,
  * PackStream encode, server interpret) and nothing else. Prints one
  * JSON line per batch size: wall seconds, node/edge rows landed,
  * statements on the wire, TCP connections opened (= partition tasks,
  * one socket each).
  */
object WireSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sizes = args.lift(1).getOrElse("500,1000,5000").split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.harness()

    import graft.sinks.{CypherSink, InMemoryBolt}
    import graft.sinks.bolt.{BoltLoopbackServer, BoltSocketSessionFactory}

    // stage the 4-label fixture graph once; the sweep re-reads parquet
    val (v0, e0) = Queries51.sinkFixtureGraph(spark, dir)
    val vp = graft.sources.Staging.path(dir, "wiresoak_verts")
    val ep = graft.sources.Staging.path(dir, "wiresoak_edges")
    v0.write.mode("overwrite").parquet(vp)
    e0.write.mode("overwrite").parquet(ep)
    val verts = spark.read.parquet(vp)
    val edges = spark.read.parquet(ep)
    val (nV, nE) = (verts.count(), edges.count())
    System.err.println(s"[wiresoak] staged verts=$nV edges=$nE dir=$dir")

    sizes.foreach { bs =>
      val token = s"wiresoak_${bs}_${Queries51.sinkNonce.incrementAndGet()}"
      val srv = new BoltLoopbackServer(token)
      try {
        val t0 = System.nanoTime()
        CypherSink.writeGraph(verts, edges,
          BoltSocketSessionFactory(srv.host, srv.port), batchSize = bs)
        val dt = (System.nanoTime() - t0) / 1e9
        val st = InMemoryBolt.store(token)
        println(f"""{"batchSize":$bs,"sec":$dt%.3f,"nodes":${st.nodes.size},"edges":${st.edges.size},"statements":${srv.statements.size},"connections":${srv.connections.get}}""")
        require(st.nodes.size.toLong == nV && st.edges.size.toLong == nE,
          s"store mismatch at batchSize=$bs: " +
            s"${st.nodes.size}/$nV nodes, ${st.edges.size}/$nE edges")
      } finally { srv.close(); InMemoryBolt.drop(token) }
      GraftSession.isolate()
    }
    spark.stop()
  }
}
