package graft

/** Bench's artifact emitters and measurement loop (VERDICT r4 item 3): a
  * bench run that dies must leave a named, JSON-safe exception head in
  * bench_full.json, even when best-of-2 absorbs the failure, and both
  * stdout JSON lines must fit a 2000-char stdout tail window. The loop's
  * runs go through the shared guard, [[Session.guarded]].
  */
class BenchJsonSpec extends SparkSpec {

  test("errorHead names the exception and the root cause's first line") {
    // the r4 shape: a SparkException wrapping a DAGScheduler failure whose
    // message is a multi-line stack head
    val root = new IllegalStateException(
      "Task 3 in stage 7 failed\n  long stack line two\n  line three")
    val e = new RuntimeException("Job aborted", root)
    val head = Session.errorHead(e)
    assert(head.startsWith("RuntimeException <- IllegalStateException: "))
    assert(head.contains("Task 3 in stage 7 failed"))
    assert(!head.contains("line two"), s"must keep only the first line: $head")
    // uncaused exceptions keep a single class name
    assert(Session.errorHead(new RuntimeException("plain"))
      == "RuntimeException: plain")
    // null messages must not NPE
    assert(Session.errorHead(new RuntimeException(null: String))
      == "RuntimeException: ")
  }

  test("jsonString escapes quotes, backslashes, and control characters") {
    val hostile = "he said \"boom\\crash\"\nnext\tline"
    val out = Session.jsonString(hostile)
    assert(out.head == '"' && out.last == '"')
    val body = out.substring(1, out.length - 1)
    // no raw quote, backslash-escaping intact, no control chars survive
    assert(!body.replace("\\\"", "").replace("\\\\", "").contains("\""))
    assert(!body.exists(_ < ' '))
    // and the composed failures entry still parses as a flat JSON object
    // shape (balanced quotes — a proxy for validity without a parser dep)
    val entry = s"""{"q":${Session.jsonString("q_x")},"error":$out}"""
    assert(entry.count(_ == '"') % 2 == 0)
  }

  test("a failure's head is bounded even for enormous messages") {
    val huge = new RuntimeException("x" * 10000)
    assert(Session.errorHead(huge).length < 300)
  }

  test("compact stdout line is short, parseable-shaped, and fits the tail window with the detail line") {
    // VERDICT r7 item 6: every BENCH_r{3..7}.json recorded "parsed": null
    // because the single budgeted line overflowed the driver's 2 KB tail.
    // The compact line carries the graded fields in ~85 chars (bounded at
    // 140 here), and compact + budgeted detail + sbt's trailing
    // "[success]" must fit.
    val line = Bench.compactLine(73.299, 111, "/data/sf0.1")
    assert(line.length < 140, s"compact line too long: ${line.length}")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":73.299,"))
    for (k <- Seq("\"unit\":\"sec\"", "\"nq\":111",
        "\"sf\":\"/data/sf0.1\""))
      assert(line.contains(k), s"missing $k in $line")
    assert(line.count(_ == '"') % 2 == 0 && line.last == '}')
    // the detail line never exceeds its budget, however many cells
    val cells = (1 to 300).map(i => f"q_some_long_query_name_$i%03d" -> i / 100.0)
    val detail = Bench.detailLine(cells.map(_._2).sum, cells, "/data/sf0.1")
    assert(detail.length <= Bench.perQueryBudget)
    // window arithmetic: both lines + sbt tail inside 2000 chars
    assert(line.length + 1 + Bench.perQueryBudget + 1 + 60 < 2000)
  }

  test("detail line lists broken cells first, then the slowest, and keeps the contract fields") {
    val detail = Bench.detailLine(1.5, Seq("q_a" -> 0.5, "q_broken" -> -1.0,
      "q_b" -> 2.0), "/x/sf0.1")
    assert(detail == "{\"metric\":\"total\",\"value\":1.500,\"unit\":\"sec\"," +
      "\"nq\":3,\"queries\":{\"q_broken\":-1.00,\"q_b\":2.00,\"q_a\":0.50}," +
      "\"omitted\":0,\"sf\":\"/x/sf0.1\"}")
  }

  test("detail line is an exact slowest-first prefix and counts the cells it omits") {
    // the rotation fix: a cell that does not fit ends the line, so a
    // shorter, faster cell can never take a slower one's place, and the
    // omitted count says how many were left out
    val rnd = new scala.util.Random(7L)
    val cells = (1 to 111).map(i =>
      s"q_${"x" * rnd.nextInt(18)}_$i" -> (rnd.nextInt(600) / 100.0))
    val compact = Bench.compactLine(cells.map(_._2).sum, cells.size, "/data/sf0.1")
    val detail = Bench.detailLine(cells.map(_._2).sum, cells, "/data/sf0.1")
    val shown = "\"(q_[^\"]+)\":".r.findAllMatchIn(detail).map(_.group(1)).toSeq
    val omitted = "\"omitted\":(\\d+)".r.findFirstMatchIn(detail).get.group(1).toInt
    assert(shown.nonEmpty && omitted > 0, "fixture must overflow the budget")
    assert(omitted == cells.size - shown.size)
    val value = cells.toMap
    val slowestShown = shown.map(value).min
    val left = cells.filterNot { case (k, _) => shown.contains(k) }
    assert(left.forall(_._2 <= slowestShown),
      s"an omitted cell is slower than a shown one (${left.maxBy(_._2)} > $slowestShown)")
    assert(compact.length + 1 + detail.length + 1 + 60 < 2000)
    for (k <- Seq("\"metric\":\"total\"", "\"unit\":\"sec\"", "\"nq\":111",
        "\"sf\":\"/data/sf0.1\""))
      assert(detail.contains(k), s"missing $k")
  }

  private val ok: Session.Query = (s, _) => s.range(10).toDF()

  test("a query that throws NonFatal is recorded as failed and the loop goes on") {
    val bad: Session.Query = (_, _) => throw new IllegalStateException("boom")
    val (cells, failures) =
      Bench.measure(spark, sfDir, Seq("q_bad" -> bad, "q_ok" -> ok))
    assert(cells.map(_._1) == Seq("q_bad", "q_ok"))
    assert(cells.head._2 == -1.0)
    assert(cells(1)._2 > 0.0)
    // one head per failed run: best-of-2 ran it twice
    assert(failures == Seq.fill(2)("q_bad" -> "IllegalStateException: boom"))
  }

  test("a failed query's -1 cell stays out of the published total") {
    val cells = Seq("q_a" -> 0.5, "q_broken" -> -1.0, "q_b" -> 2.0)
    assert(Bench.measuredTotal(cells) == 2.5)
    assert(Bench.measuredTotal(Seq("q_broken" -> -1.0)) == 0.0)
    // the cell itself keeps its sentinel in the detail line
    assert(Bench.detailLine(Bench.measuredTotal(cells), cells, "/x")
      .contains("\"q_broken\":-1.00"))
  }

  test("a fatal error in a query propagates out of the measurement loop") {
    val fatal: Session.Query = (_, _) => throw new LinkageError("fatal")
    intercept[LinkageError] {
      Bench.measure(spark, sfDir, Seq("q_fatal" -> fatal, "q_ok" -> ok))
    }
  }

  test("late-accumulator log filter denies exactly the benign shape") {
    // r11 item 3 + ADVICE r12: the benign 'Failed to update accumulator
    // N' ERROR stacks (late completion events of finished jobs' tasks
    // racing the inter-query GC) must be denied and counted — but ONLY
    // the benign shape: DAGScheduler logger AND (Unknown class /
    // non-existent-accumulator cause). A genuine accumulator failure
    // during an active query names a real class with a different cause
    // and must still log.
    val counter = new java.util.concurrent.atomic.AtomicLong
    assert(Bench.installLateAccumFilter(counter))
    val dag = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.scheduler.DAGScheduler")
    // benign shape 1: context lookup already failed -> class unknown
    dag.error("Failed to update accumulator 123 (Unknown class) for task 0")
    assert(counter.get == 1, s"suppression count: ${counter.get}")
    // benign shape 2: real class named but the root cause is the
    // non-existent-accumulator lookup (weakly-held metric GC'd mid-update)
    dag.error("Failed to update accumulator 7 (SQLMetric) for task 3",
      new RuntimeException("wrapper", new IllegalStateException(
        "attempted to access non-existent accumulator 7")))
    assert(counter.get == 2, s"suppression count: ${counter.get}")
    // NOT benign: same prefix, real class, unrelated cause — passes
    dag.error("Failed to update accumulator 9 (LongAccumulator) for task 1",
      new RuntimeException("user accumulator add overflowed"))
    assert(counter.get == 2, "a real-class/unrelated-cause failure was denied")
    // NOT benign: benign-looking message from a DIFFERENT logger — passes
    org.apache.logging.log4j.LogManager.getLogger("graft.spec.probe")
      .error("Failed to update accumulator 5 (Unknown class) for task 2")
    assert(counter.get == 2, "a non-DAGScheduler event was denied")
    // unrelated messages pass
    dag.error("benign-filter spec probe: a DIFFERENT error must pass through")
    assert(counter.get == 2, s"suppression count: ${counter.get}")
  }
}
