package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.store.TableStore

/** Incremental connected-components maintenance — the production form
  * of [[ConnectedComponents]] the same way `IncrementalLsh` is the
  * production form of the one-shot band join. Batch dedup recomputes
  * the transitive closure of ALL near-dup pairs every cycle; at
  * 100 TB the pair archive dwarfs any day's new pairs, so a pipeline
  * maintains the assignment instead: the (id → root) state persists
  * in a [[TableStore]] and each batch of new edges folds in with
  *
  *  1. one lookup of the batch ENDPOINTS' current roots — an inner
  *     join that BUILDS on the broadcast O(batch) endpoint set and
  *     streams an id-range-pruned state scan, so the state is never
  *     shuffled in ANY join regime (a left-outer lookup could only
  *     broadcast the state side and would degrade to a full state
  *     shuffle once the state outgrows the threshold); endpoints
  *     absent from the state root themselves via an O(batch)
  *     anti-join,
  *  2. connected components over the CONTRACTED root graph — at most
  *     one node per touched component, so the closure runs on a graph
  *     of batch size regardless of how big the state is (this is
  *     union-find's "union by root" step expressed relationally),
  *  3. a keyed MERGE of only the rows whose root changed: the batch's
  *     endpoints plus the members of components that merged (the
  *     store's zone-pruned copy-on-write bounds the physical rewrite
  *     to files actually holding those rows).
  *
  * Root convention matches [[ConnectedComponents.label]]: a component
  * is labeled by its smallest member id, so merging components keeps
  * the convention (the minimum of component minima IS the merged
  * component's minimum) and the final state is bit-identical to the
  * one-shot closure over the union of all batches — the equivalence
  * IncrementalCcSpec proves and gate query dd15 pins against dd08's
  * recursive-CTE oracle. Folding is idempotent: replaying a batch
  * contracts every edge to a self-loop and merges nothing.
  *
  * Maintenance: each fold's COW upsert stages a small file set, so a
  * long-running deployment compacts the assignment table on its own
  * cadence (`store.compact(table)`, on the TableStore trait); like
  * any table-format maintenance it is a throughput knob, never a
  * correctness one.
  */
object IncrementalCc {

  val StateSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("root", LongType, nullable = false)))

  def ensure(store: TableStore, table: String): Unit =
    store.ensure(table, StateSchema)

  /** Current assignment — (id, component), the
    * [[ConnectedComponents.label]] output shape. */
  def assignments(store: TableStore, table: String): DataFrame =
    store.scan(table).select(col("id"), col("root").as("component"))

  /** Fold one batch of undirected edges into the persisted
    * assignment. Self-loops register their endpoint as a singleton;
    * null endpoints are dropped. */
  def update(store: TableStore, table: String, edges: DataFrame,
             aCol: String, bCol: String): Unit = {
    val e = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint(true)
    try {
      if (e.isEmpty) return
      val state = store.scan(table)
      if (state.isEmpty) {
        // first fold of a fresh deployment: nothing to contract
        // against — the closure of the batch IS the state
        store.mergeUpsert(table,
          ConnectedComponents.label(e, "a", "b")
            .select(col("id"), col("component").as("root")),
          Seq("id"))
        return
      }
      // 1. endpoints' current roots (unseen endpoint roots itself).
      // The lookup must never shuffle the state in ANY join regime: a
      // left-outer from nodes to state could only broadcast the STATE
      // (the right side is the one legal build side for LeftOuter),
      // which stops being legal once the state outgrows the broadcast
      // threshold — and the plan would silently degrade to a full
      // sort-merge shuffle of the persisted state every batch. So:
      //  - matched roots come from an INNER join with an explicit
      //    broadcast(nodes): for inner joins either side may build, so
      //    the O(batch) endpoint set is the hash side and the state is
      //    streamed — read, never shuffled, in every regime;
      //  - the state READ itself is zone-pruned by the endpoints'
      //    [min, max] id range (one 1-row driver agg) via scanRange,
      //    so when batch ids cluster the scan is sub-O(state) too;
      //  - unseen endpoints are nodes LEFT ANTI the matched ids —
      //    both sides O(batch) — rooting themselves.
      val nodes = e.select(col("a").as("id"))
        .union(e.select(col("b").as("id"))).distinct()
        .localCheckpoint(true) // O(batch); broadcast build + anti probe
      try {
        val nb = nodes.agg(min(col("id")), max(col("id"))).head()
        val matched = store
          .scanRange(table, "id", nb.getLong(0).toString,
            nb.getLong(1).toString)
          .join(broadcast(nodes), Seq("id"))
          .select(col("id"), col("root"))
          .localCheckpoint(true) // O(batch); state scanned exactly once
        try {
        val withRoots = matched.unionByName(
            nodes.join(broadcast(matched.select(col("id"))),
              Seq("id"), "left_anti")
              .select(col("id"), col("id").as("root")))
          .localCheckpoint(true) // reused three times below
        try {
        // 2. contract each edge to its endpoints' roots; closure over
        // the root graph only (≤ one node per touched component)
        val contracted = e
          .join(withRoots.select(col("id").as("a"), col("root").as("ra")),
            Seq("a"))
          .join(withRoots.select(col("id").as("b"), col("root").as("rb")),
            Seq("b"))
          .select(col("ra"), col("rb"))
          .filter(col("ra") =!= col("rb"))
        val remap = ConnectedComponents.label(contracted, "ra", "rb")
          .select(col("id").as("old_root"), col("component").as("new_root"))
          .filter(col("old_root") =!= col("new_root"))
          .localCheckpoint(true) // O(touched roots); broadcast below
        try {
          // 3. rows whose root changes: every state member of a merged
          // component, plus the batch's endpoints (insert-or-update).
          // The member search reads a ROOT-range-pruned state scan
          // streamed against broadcast(remap) — and in the steady-state
          // trickle case (no components merged at all) skips the state
          // read entirely.
          val rb = remap.agg(min(col("old_root")), max(col("old_root"))).head()
          val changedMembers =
            if (rb.isNullAt(0)) state.where(lit(false))
            else {
              val touched = store.scanRange(table, "root",
                rb.getLong(0).toString, rb.getLong(1).toString)
              touched.join(broadcast(remap),
                  touched("root") === remap("old_root"))
                .select(touched("id"), remap("new_root").as("root"))
            }
          val endpointRows = withRoots
            .join(broadcast(remap),
              withRoots("root") === remap("old_root"), "left")
            .select(withRoots("id"),
              coalesce(remap("new_root"), withRoots("root")).as("root"))
          store.mergeUpsert(table,
            endpointRows.unionByName(changedMembers).dropDuplicates("id"),
            Seq("id"))
        } finally graft.SparkUtil.releaseCheckpoint(remap)
        } finally graft.SparkUtil.releaseCheckpoint(withRoots)
        } finally graft.SparkUtil.releaseCheckpoint(matched)
      } finally graft.SparkUtil.releaseCheckpoint(nodes)
    } finally graft.SparkUtil.releaseCheckpoint(e)
  }
}
