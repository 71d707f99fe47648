package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** INCREMENTAL connected components over a stream of edge INSERTIONS —
  * distributed union-find: the streaming twin of
  * [[graft.operators.ConnectedComponents]], maintaining a (node, rep)
  * component map whose fixpoint equals batch CC over every edge seen,
  * under ANY batch split.
  *
  * Per micro-batch:
  *   1. CONTRACT: map both endpoints of each batch edge through the
  *      current rep (unseen nodes represent themselves) and drop edges
  *      already internal to one component — connectivity is preserved
  *      because reps are, by induction, connected to their members;
  *   2. batch-local CC on the contracted edges (the pointer-doubling
  *      operator) — work is bounded by batch size + TOUCHED components,
  *      never the accumulated graph;
  *   3. REMAP: the result is a rep-level old→new map (touched-component-
  *      sized, broadcastable); existing members relabel through one join
  *      on their rep, new nodes insert with their resolved rep;
  *   4. publish through the versioned write-audit protocol (batchId
  *      naming = replay idempotent, same as every VersionedView sink).
  *
  * Min-label invariant: batch CC emits the MINIMUM member as rep, and
  * contraction only ever feeds it current reps (themselves minimum member
  * ids) and new node ids — so the maintained rep is the min node id of the
  * full component, exactly batch CC's contract, which is what lets one
  * oracle gate both.
  *
  * 100 TB shape: the state table is node-sized and touched once per batch
  * (one rep-keyed join + one anti-join insert); the CC rounds run on the
  * CONTRACTED graph only. A deployment stores state bucketed by rep so the
  * relabel join opens only touched buckets.
  */
object IncrementalCC {

  /** DELETION-capable incremental CC over a CDC edge stream with columns
    * (`u`, `v`, `op` ∈ {I, D}) — the fully-dynamic extension [[ccSink]]
    * deliberately excludes (its map is insertion-only by contract). A
    * deletion can SPLIT a component, which union-find cannot undo, so this
    * sink maintains a second versioned view: the live edge MULTISET
    * (a, b, cnt) with canonical a < b and NET counts (I = +1, D = −1, no
    * clamping) — net counts make the final map a pure function of the
    * final multiset, i.e. identical under ANY batch split or arrival
    * order (a D racing ahead of its I nets to 0: dead either way). An
    * edge is LIVE iff cnt > 0; the map contains EXACTLY the endpoints of
    * live edges (a node isolated by deletions drops out — the same
    * membership rule batch CC over the live edges produces, so one
    * recursive oracle gates both).
    *
    * Per micro-batch, everything computed from the PRE-batch snapshots of
    * both views ([[VersionedView.readBefore]] — replay-safe even when the
    * store published and the map didn't), then published store-first:
    *   1. batch → canonical (a, b, ±1) deltas; join against the old store
    *      to find LIVENESS TRANSITIONS: `born` (dead→live) and `died`
    *      (live→dead). An I on an already-live edge or a D that only drops
    *      multiplicity is connectivity-neutral and triggers nothing.
    *   2. no `died`: [[ccSink]]'s insertion fast path on `born`.
    *   3. `died` non-empty: TOUCHED-COMPONENT REBUILD. Touched reps = the
    *      (by closure: both) endpoints' components of died edges; rebuild
    *      graph = live edges incident to touched nodes ∪ born edges, with
    *      endpoints CONTRACTED (touched node → itself, untouched node →
    *      its rep, unseen → itself) so untouched components participate
    *      as single nodes. Batch CC on that graph relabels touched
    *      members directly, untouched members through their rep's new
    *      label, and drops touched nodes with no remaining live edge.
    *
    * Min-label invariant survives: contracted ids are real node ids or
    * untouched reps (each the MIN of its component), so the rebuilt
    * component's min contracted id IS its min member id.
    *
    * 100 TB shape: the edge store is O(live edges) — the information-
    * theoretic floor for split detection — touched once per batch by one
    * batch-sized join (deltas) plus one semi-join selecting touched
    * incident edges; a deployment buckets the store by component rep so
    * the rebuild opens only touched buckets. CC work is bounded by
    * touched components + batch, never the accumulated graph.
    */
  def ccDeleteSink(stateOut: String, edgesOut: String): (DataFrame, Long) => Unit = {
    (batch, batchId) => {
      val sp = batch.sparkSession
      val deltas = batch
        .select(least(col("u"), col("v")).cast("long").as("a"),
          greatest(col("u"), col("v")).cast("long").as("b"),
          when(col("op") === "D", -1L).otherwise(1L).as("d"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("d")).as("d"))
      val oldStore = VersionedView.readBefore(sp, edgesOut, batchId)
      val oldMap = VersionedView.readBefore(sp, stateOut, batchId)

      val trans = oldStore match {
        case None => deltas
          .select(col("a"), col("b"), lit(0L).as("oldcnt"), col("d").as("newcnt"))
        case Some(st0) => deltas
          .join(st0.select(col("a"), col("b"), col("cnt").as("oldcnt")),
            Seq("a", "b"), "left")
          .select(col("a"), col("b"), coalesce(col("oldcnt"), lit(0L)).as("oldcnt"),
            (coalesce(col("oldcnt"), lit(0L)) + col("d")).as("newcnt"))
      }
      val newStore = (oldStore match {
        case None => trans.select(col("a"), col("b"), col("newcnt").as("cnt"))
        case Some(st0) => st0.select(col("a"), col("b"), col("cnt"))
          .join(deltas.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
          .unionByName(trans.select(col("a"), col("b"), col("newcnt").as("cnt")))
      }).filter(col("cnt") =!= 0L)
      val born = trans.filter(col("oldcnt") <= 0L && col("newcnt") > 0L)
        .select(col("a").as("u"), col("b").as("v"))
      val died = trans.filter(col("oldcnt") > 0L && col("newcnt") <= 0L)
        .select(col("a"), col("b"))

      // publish the store FIRST (replay: readBefore above already pinned
      // the pre-batch snapshots, so a crash between the two publishes
      // recomputes the identical map)
      VersionedView.versionedSink(edgesOut)((_, _) => newStore)(batch, batchId)
      // post-publish store read: file-backed with real size stats, so the
      // map plan below never re-executes the merge plan a second time
      val storeNow = VersionedView.read(sp, edgesOut).get

      val anyDied = oldMap.isDefined && !died.isEmpty
      val newMap: DataFrame = (oldMap, anyDied) match {
        case (None, _) =>
          // first batch: CC over whatever net-lives
          graft.operators.ConnectedComponents(
            storeNow.filter(col("cnt") > 0L).select(col("a"), col("b")))
        case (Some(st), false) =>
          // insertion fast path — ccSink's contraction, on born edges only
          incrementalInsert(st, born)
        case (Some(st), true) =>
          val diedNodes = died.select(col("a").as("node"))
            .unionByName(died.select(col("b").as("node"))).distinct()
          val touchedReps = diedNodes.join(st, Seq("node"))
            .select(col("rep")).distinct()
          // endpoint contraction map: touched node → itself, else its rep
          val endMap = st
            .join(touchedReps.withColumn("_t", lit(1)), Seq("rep"), "left")
            .select(col("node"),
              when(col("_t").isNotNull, col("node")).otherwise(col("rep")).as("m"),
              col("_t"))
          val touchedNodes = endMap.filter(col("_t").isNotNull).select(col("node"))
          // live edges incident to a touched node (old-component edges are
          // endpoint-closed, so this is every touched-component edge) ∪ born
          val live = storeNow.filter(col("cnt") > 0L).select(col("a"), col("b"))
          val incident = live
            .join(touchedNodes.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
            .unionByName(live
              .join(touchedNodes.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
              .select(col("a"), col("b")))
          val rebuildRaw = incident.unionByName(born.select(col("u").as("a"), col("v").as("b")))
            .distinct()
          val contracted = rebuildRaw
            .join(endMap.select(col("node").as("a"), col("m").as("ma")), Seq("a"), "left")
            .join(endMap.select(col("node").as("b"), col("m").as("mb")), Seq("b"), "left")
            .select(coalesce(col("ma"), col("a")).as("u"),
              coalesce(col("mb"), col("b")).as("v"))
            .filter(col("u") =!= col("v"))
          val ccRes = graft.operators.ConnectedComponents(contracted)
          val remap = ccRes.select(col("node").as("old"), col("rep").as("nr"))
          // untouched members relabel through their rep's stand-in label
          val untouchedMembers = st.join(touchedReps, Seq("rep"), "left_anti")
          val relabeled = untouchedMembers
            .join(remap.withColumnRenamed("old", "rep"), Seq("rep"), "left")
            .select(col("node"), coalesce(col("nr"), col("rep")).as("rep"))
          // touched + unseen nodes appear in ccRes as THEMSELVES; untouched
          // reps appear only as stand-ins and are already covered above.
          // Touched nodes absent from ccRes lost their last live edge and
          // drop from the map.
          val direct = remap.select(col("old").as("node"), col("nr").as("rep"))
            .join(untouchedMembers.select(col("node")), Seq("node"), "left_anti")
          relabeled.unionByName(direct)
      }
      VersionedView.versionedSink(stateOut)((_, _) => newMap)(batch, batchId)
    }
  }

  /** [[ccSink]]'s incremental step, factored so [[ccDeleteSink]]'s
    * no-deletion fast path shares it: contract `edges` through the current
    * map `st`, CC the contracted graph, relabel + insert.
    */
  private def incrementalInsert(st: DataFrame, edges: DataFrame): DataFrame = {
    val repOf = st.select(col("node"), col("rep"))
    val contracted = edges
      .join(repOf.select(col("node").as("u"), col("rep").as("ru")), Seq("u"), "left")
      .join(repOf.select(col("node").as("v"), col("rep").as("rv")), Seq("v"), "left")
      .select(coalesce(col("ru"), col("u")).as("u"),
        coalesce(col("rv"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val remap = graft.operators.ConnectedComponents(contracted)
      .select(col("node").as("old"), col("rep").as("new_rep"))
      .filter(col("old") =!= col("new_rep"))
    val relabeled = st
      .join(remap.withColumnRenamed("old", "rep"), Seq("rep"), "left")
      .select(col("node"), coalesce(col("new_rep"), col("rep")).as("rep"))
    val batchNodes = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
    val fresh = batchNodes
      .join(st.select(col("node")), Seq("node"), "left_anti")
      .join(remap.withColumnRenamed("old", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("new_rep"), col("node")).as("rep"))
    relabeled.unionByName(fresh)
  }

  /** foreachBatch sink over an edge stream with LONG columns (`u`, `v`).
    * Read the map back with [[VersionedView.read]] (columns node, rep).
    *
    * The inner CC pins its rounds through [[graft.operators.Materialize]]
    * (block by default; `spark.graft.materialize=durable` on the session
    * that starts the stream makes them reliable checkpoints). Its rounds
    * are stats-clamped to their observed row counts, so a streaming
    * micro-batch's huge default stats never compound across the
    * pointer-double self-joins.
    */
  def ccSink(stateOut: String): (DataFrame, Long) => Unit =
    VersionedView.versionedSink(stateOut) { (batch, cur) =>
      // self-loops carry no connectivity and are dropped up front, so a
      // node appearing ONLY in self-loops is consistently absent from the
      // map in both the first-batch and incremental branches
      val edges = batch.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
        .filter(col("u") =!= col("v"))
      cur match {
        case None => graft.operators.ConnectedComponents(edges)
        case Some(st) => incrementalInsert(st, edges)
      }
    }
}
