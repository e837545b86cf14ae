package graft.graph

import scala.collection.mutable

/** A foreign-key relationship: `fkTable.(fkCols)` references
  * `targetTable.(targetCols)`. Composite keys are column lists, mirroring the
  * reference record shape (/root/reference/psql_database_helper.py:137-145).
  */
final case class Fk(
    fkTable: String,
    fkCols: Seq[String],
    targetTable: String,
    targetCols: Seq[String])

/** A directed FK edge to remove when breaking cycles
  * (/root/reference/config_reader.py:19-24).
  */
final case class DependencyBreak(fkTable: String, targetTable: String)

/** Driver-side graph algorithms over FK metadata. Tables number in the
  * hundreds at most, so these run on plain Scala collections on the driver —
  * the data plane never sees them.
  *
  * Semantics mirror /root/reference/topo_orderer.py and
  * /root/reference/subset_utils.py:44-70,98-173.
  */
object FkGraph {

  /** Topologically ordered strata of the FK DAG: stratum 0 contains the most
    * *downstream* tables (targets that depend on nothing in scope), matching
    * the `toposort` library's output consumed by the reference
    * (/root/reference/topo_orderer.py:4-6). Only tables that participate in
    * at least one in-scope, unbroken edge appear. Self-loops and residual
    * cycles raise IllegalArgumentException
    * (/root/reference/topo_orderer.py:26-27).
    *
    * @param tables restrict edges to those with both endpoints in this set;
    *               an empty set means no restriction
    *               (/root/reference/topo_orderer.py:29-30).
    */
  def topoStrata(
      fks: Seq[Fk],
      tables: Set[String],
      breaks: Set[DependencyBreak]): List[Set[String]] = {
    val deps = mutable.LinkedHashMap.empty[String, mutable.Set[String]]
    for (r <- fks) {
      val p = r.fkTable
      val c = r.targetTable
      if (!breaks.contains(DependencyBreak(p, c))) {
        if (p == c)
          throw new IllegalArgumentException(
            s"Circular dependency, $p depends on itself!")
        if (tables.isEmpty || (tables.contains(p) && tables.contains(c)))
          deps.getOrElseUpdate(p, mutable.Set.empty) += c
      }
    }
    val all: Set[String] = deps.keySet.toSet ++ deps.valuesIterator.flatten
    var remaining: Map[String, Set[String]] =
      all.iterator.map(t => t -> deps.get(t).map(_.toSet).getOrElse(Set.empty)).toMap
    val out = mutable.ListBuffer.empty[Set[String]]
    while (remaining.nonEmpty) {
      val ready = remaining.collect { case (t, d) if d.isEmpty => t }.toSet
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          "Circular dependency among tables: " +
            remaining.keys.toSeq.sorted.mkString(", "))
      out += ready
      remaining = remaining.collect {
        case (t, d) if !ready.contains(t) => t -> (d -- ready)
      }
    }
    out.toList
  }

  /** Tables in strata strictly *after* the first stratum containing any
    * initial-target table — the greedy upstream set
    * (/root/reference/subset_utils.py:44-52). Strata are flattened in sorted
    * order for determinism (the reference iterates Python sets; intra-stratum
    * order is semantically irrelevant because same-stratum tables never
    * reference each other).
    */
  def upstreamTables(
      targetTables: Seq[String],
      strata: List[Set[String]]): List[String] = {
    val targets = targetTables.toSet
    var inUpstream = false
    val out = mutable.ListBuffer.empty[String]
    for (s <- strata) {
      if (inUpstream) out ++= s.toList.sorted
      if (s.exists(targets.contains)) inUpstream = true
    }
    out.toList
  }

  /** All strata tables, flattened then reversed (most-upstream first), minus
    * passthrough and disconnected tables — the downstream processing order
    * (/root/reference/subset_utils.py:54-59).
    */
  def downstreamTables(
      passthrough: Seq[String],
      disconnected: Seq[String],
      strata: List[Set[String]]): List[String] = {
    val skip = passthrough.toSet ++ disconnected
    strata.flatMap(_.toList.sorted).filterNot(skip.contains).reverse
  }

  /** Tables whose connected component (under the *unredacted* FK edge set —
    * broken edges still connect, /root/reference/subset.py:42-43) contains
    * neither an initial-target nor a passthrough table
    * (/root/reference/subset_utils.py:61-70).
    */
  def disconnectedTables(
      targetTables: Seq[String],
      passthrough: Seq[String],
      allTables: Seq[String],
      fks: Seq[Fk]): Seq[String] = {
    val uf = new UnionFind
    allTables.foreach(uf.makeSet)
    fks.foreach(r => uf.link(r.fkTable, r.targetTable))
    val connectedRoots =
      (targetTables ++ passthrough).filter(uf.contains).map(uf.find).toSet
    allTables.filterNot(t => connectedRoots.contains(uf.find(t)))
  }

  /** Drop edges listed as dependency breaks
    * (/root/reference/subset_utils.py:33-36).
    */
  def redact(fks: Seq[Fk], breaks: Set[DependencyBreak]): Seq[Fk] =
    fks.filterNot(r => breaks.contains(DependencyBreak(r.fkTable, r.targetTable)))
}

/** Union-find with path compression and union by rank, for FK-graph
  * connected components (/root/reference/subset_utils.py:98-173).
  */
final class UnionFind {
  private val idOf = mutable.HashMap.empty[String, Int]
  private val elems = mutable.ArrayBuffer.empty[String]
  private val roots = mutable.ArrayBuffer.empty[Int]
  private val ranks = mutable.ArrayBuffer.empty[Int]

  def contains(e: String): Boolean = idOf.contains(e)

  def makeSet(e: String): Unit = id(e)

  private def id(e: String): Int =
    idOf.getOrElseUpdate(e, {
      val i = roots.length
      elems += e; roots += i; ranks += 0
      i
    })

  private def findRoot(x0: Int): Int = {
    var x = x0
    while (roots(x) != x) x = roots(x)
    var y = x0
    while (roots(y) != x) { val n = roots(y); roots(y) = x; y = n }
    x
  }

  def find(e: String): String = elems(findRoot(idOf(e)))

  def link(a: String, b: String): Unit = {
    val xr = findRoot(id(a))
    val yr = findRoot(id(b))
    if (xr != yr) {
      if (ranks(xr) < ranks(yr)) roots(xr) = yr
      else if (ranks(yr) < ranks(xr)) roots(yr) = xr
      else { roots(yr) = xr; ranks(xr) += 1 }
    }
  }
}
