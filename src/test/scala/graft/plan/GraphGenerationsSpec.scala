package graft.plan

import org.scalatest.funsuite.AnyFunSuite

/** `DependencyAnalyzer.Graph.generations` (in-degree Kahn) against the
  * earlier whole-set-rescan algorithm, kept here as the reference: same
  * generations, each sorted, on seeded random DAGs, and the same DEP_002
  * message with the same sorted residual on a cycle. */
class GraphGenerationsSpec extends AnyFunSuite {

  /** The earlier algorithm, verbatim but for its name. */
  private def reference(edges: Map[String, Set[String]]): Seq[Seq[String]] = {
    def nodes: Set[String] = edges.keySet ++ edges.values.flatten
    var remaining = nodes.map(n => n -> edges.getOrElse(n, Set.empty).filter(nodes)).toMap
    val out = Seq.newBuilder[Seq[String]]
    while (remaining.nonEmpty) {
      val ready = remaining.collect {
        case (n, ds) if ds.forall(d => !remaining.contains(d)) => n
      }.toSeq.sorted
      if (ready.isEmpty)
        throw Planner.PlanError(graft.ErrorCodes.DEP_002(
          s"flowgroup dependency cycle: ${remaining.keys.toSeq.sorted.mkString(", ")}"))
      out += ready
      remaining = remaining -- ready
    }
    out.result()
  }

  /** A random DAG over `n` nodes: node i may depend only on nodes < i, in a
    * shuffled naming so sorted order is not topological order; some nodes
    * appear only as dependencies (no key of their own). */
  private def randomDag(seed: Long, n: Int): Map[String, Set[String]] = {
    val rnd = new scala.util.Random(seed)
    val names = rnd.shuffle((0 until n).map(i => f"fg$i%03d")).toIndexedSeq
    (1 until n).flatMap { i =>
      val deps = (0 until i).filter(_ => rnd.nextDouble() < 3.0 / i).map(names).toSet
      if (deps.isEmpty && rnd.nextBoolean()) None else Some(names(i) -> deps)
    }.toMap
  }

  test("generations match the reference on seeded random DAGs") {
    for (seed <- 1L to 40L; n <- Seq(1, 2, 7, 30, 120)) {
      val edges = randomDag(seed, n)
      val got = DependencyAnalyzer.Graph(edges).generations
      assert(got == reference(edges), s"seed $seed, n $n")
      assert(got.forall(g => g == g.sorted))
    }
  }

  test("a cycle raises the same DEP_002 message as the reference") {
    // a -> b -> c -> a, d behind the cycle, e independent, f self-loop
    val edges = Map("a" -> Set("c"), "b" -> Set("a"), "c" -> Set("b"),
      "d" -> Set("c", "e"), "f" -> Set("f"))
    val want = intercept[Planner.PlanError](reference(edges)).getMessage
    val got = intercept[Planner.PlanError](
      DependencyAnalyzer.Graph(edges).generations).getMessage
    assert(got == want)
    assert(got.contains("a, b, c, d, f"), got)
  }
}
