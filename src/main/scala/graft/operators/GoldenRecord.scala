package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Contracted golden-record clustering (q338's CC stage, collapsed).
  *
  * The entity-resolution graph q338 hands to
  * [[ConnectedComponents.labels]] is blocked on (brand, type) and linked
  * by name similarity only: part u — part v is an edge iff both live in
  * the same block AND their names are similar (JW ≥ threshold; equal
  * names trivially qualify). Every decision therefore depends on the
  * (block, name) pair, never on the individual part id — so the graph
  * contracts exactly onto (block, name) SUPERNODES: parts sharing a
  * supernode are pairwise linked, and two supernodes in one block are
  * linked iff their names are similar. Connected components of the
  * contracted graph expand back to part components verbatim, and the
  * golden-record aggregates (min id, member count, name variety, min
  * price, max size) are sums/mins/maxes of per-supernode partials.
  *
  * Inclusion rule: the original CC output carries only nodes that appear
  * in at least one edge, so a component survives iff it holds ≥ 2 parts
  * (any part of a ≥2-part component has an incident edge: a same-name
  * sibling links directly, and a different-name path through the block's
  * PRESENT names links part-to-part at every hop).
  *
  * Scale shape: the iterative star-contraction over |part-pair| edges
  * (52k at sf0.1, quadratic in block size at 100 TB) becomes one
  * aggregation to the supernode grain (bounded by |blocks| × |name
  * dictionary|), a name-pair edge list bounded by |blocks| × dict², and
  * a per-block union-find over ≤ |dict| nodes — no iteration, no
  * per-round checkpoint barrier. Equivalence against the uncontracted
  * [[ConnectedComponents]] pipeline is pinned in GoldenRecordSpec, and
  * the DuckDB oracle replays the original recursive-CTE closure.
  */
object GoldenRecord {

  /** One golden record per ≥2-member component of one block — the
    * union-find runs over the block's bounded name set.
    */
  private val blockClusters = udf(
    (nodes: Seq[Row], edges: Seq[Row]) => {
      val idx = nodes.iterator.map(_.getString(0)).zipWithIndex.toMap
      val parent = Array.tabulate(nodes.size)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      if (edges != null) edges.foreach { e =>
        val ra = find(idx(e.getString(0)))
        val rb = find(idx(e.getString(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.zipWithIndex
        .groupBy { case (_, i) => find(i) }
        .valuesIterator
        .map { grp =>
          // per supernode: (name, cnt, min_k, min_price, max_size)
          val ns = grp.map(_._1)
          (ns.iterator.map(_.getLong(2)).min, // cluster_id = min part id
            ns.iterator.map(_.getLong(1)).sum, // n_members
            ns.size.toLong, // n_names (names are distinct per block)
            ns.iterator.map(_.getLong(3)).min, // min_price_c
            ns.iterator.map(_.getLong(4)).max) // max_size
        }
        .filter(_._2 >= 2L)
        .toSeq
    })

  /** Golden records of the blocked similarity graph.
    *
    * @param parts    (k, block..., name, price_c, psize) rows
    * @param blockCols the blocking columns (e.g. brand, type)
    * @param simPairs (na, nb) similar UNORDERED name pairs, na <= nb,
    *                 reflexive pairs allowed (ignored); must be small
    *                 enough to broadcast (bounded by the name dictionary)
    * @return (cluster_id, n_members, n_names, min_price_c, max_size) —
    *         unsorted; one row per ≥2-member component
    */
  def clusters(parts: DataFrame, blockCols: Seq[String], nameCol: String,
      idCol: String, priceCol: String, sizeCol: String,
      simPairs: DataFrame): DataFrame = {
    val bc = blockCols.map(col)
    // a null name matches no similarity pair, so its parts carry no edge
    // (the uncontracted pair join drops them) — never a supernode
    val perName = parts.filter(col(nameCol).isNotNull)
      .groupBy(bc :+ col(nameCol): _*)
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("mk"),
        min(col(priceCol)).as("mp"), max(col(sizeCol)).as("ms"))
      .localCheckpoint(false)
    val present = perName.select(bc :+ col(nameCol): _*)
    // name-pair edges restricted to names PRESENT in the block — a pair
    // bridged only by an absent name must not link (the part graph has
    // no carrier part for it)
    val blockEdges = present.withColumnRenamed(nameCol, "na")
      .join(broadcast(simPairs.filter(col("na") =!= col("nb"))), Seq("na"))
      .join(broadcast(present.withColumnRenamed(nameCol, "nb")),
        blockCols :+ "nb")
      .groupBy(bc: _*)
      .agg(collect_list(struct(col("na"), col("nb"))).as("es"))
    perName
      .groupBy(bc: _*)
      .agg(collect_list(struct(col(nameCol), col("cnt"), col("mk"),
        col("mp"), col("ms"))).as("nodes"))
      .join(blockEdges, blockCols, "left")
      .select(explode(blockClusters(col("nodes"), col("es"))).as("c"))
      .select(col("c._1").as("cluster_id"), col("c._2").as("n_members"),
        col("c._3").as("n_names"), col("c._4").as("min_price_c"),
        col("c._5").as("max_size"))
  }
}
