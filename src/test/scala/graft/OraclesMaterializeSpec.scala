package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The DuckDB oracle CTE-materialization rewrite ([[Oracles.materialize]])
  * keeps the driver's correctness channel alive (r18: a 16-minute inlined
  * compare → 14 s), so its exclusions must hold for SHAPES, not just the
  * oracles dumped today: a named-window definition rewritten to
  * `w AS MATERIALIZED (` is invalid SQL, and a silently broken oracle
  * zeroes the whole artifact. These specs pin the scanner's behavior on
  * every exclusion class, including the comma-separated multi-window
  * clause the old lookbehind missed. */
class OraclesMaterializeSpec extends AnyFunSuite with Matchers {

  test("single-definition CTE heads are materialized; WINDOW definitions are not") {
    val in =
      """WITH base AS (SELECT 1 AS x)
        |SELECT x, SUM(x) OVER w AS s FROM base
        |WINDOW w AS (ORDER BY x)""".stripMargin
    val out = Oracles.materialize(in)
    out should include("base AS MATERIALIZED (")
    out should include("WINDOW w AS (ORDER BY x)")
    (out should not).include("w AS MATERIALIZED")
  }

  test("a comma-separated multi-window clause keeps EVERY definition intact") {
    val in =
      """WITH base AS (SELECT 1 AS x, 2 AS y)
        |SELECT x, SUM(x) OVER w1 AS a, AVG(y) OVER w2 AS b FROM base
        |WINDOW w1 AS (PARTITION BY x ORDER BY y),
        |       w2 AS (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin
    val out = Oracles.materialize(in)
    out should include("base AS MATERIALIZED (")
    // the second (and any later) definition is exactly where the old
    // '(?<!WINDOW )' lookbehind failed
    out should include("w1 AS (PARTITION BY x ORDER BY y)")
    out should include(
      "w2 AS (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    (out should not).include("MATERIALIZED (PARTITION BY")
    (out should not).include("MATERIALIZED (ORDER BY")
  }

  test("window definitions with nested parens and a trailing CTE-like tail stay excluded") {
    val in =
      """WITH a AS (SELECT 1 AS x), b AS (SELECT 2 AS y)
        |SELECT x, COUNT(*) OVER w1 AS c, COUNT(*) OVER w2 AS d
        |FROM a JOIN b ON (a.x < b.y)
        |WINDOW w1 AS (PARTITION BY (x + 1) ORDER BY x),
        |  w2 AS (ORDER BY (x * 2))""".stripMargin
    val out = Oracles.materialize(in)
    out should include("a AS MATERIALIZED (")
    out should include("b AS MATERIALIZED (")
    out should include("w1 AS (PARTITION BY (x + 1) ORDER BY x)")
    out should include("w2 AS (ORDER BY (x * 2))")
  }

  test("a quoted paren inside a window definition does not desynchronize " +
      "the walk — the next definition stays excluded") {
    // an unbalanced '(' inside a string literal would, under a
    // quote-blind walk, push the paren depth so the walker never closes
    // the first definition, misses w2's name, and materialize rewrites
    // it into invalid `w2 AS MATERIALIZED (` window syntax
    val in =
      """WITH base AS (SELECT 'a(b' AS x, 1 AS y)
        |SELECT x, COUNT(*) OVER w1 AS c, SUM(y) OVER w2 AS s FROM base
        |WINDOW w1 AS (ORDER BY split_part(x, '(', 1)),
        |  w2 AS (ORDER BY y)""".stripMargin
    val out = Oracles.materialize(in)
    out should include("base AS MATERIALIZED (")
    out should include("w1 AS (ORDER BY split_part(x, '(', 1))")
    out should include("w2 AS (ORDER BY y)")
    (out should not).include("w2 AS MATERIALIZED")
    // SQL's escaped quote — two adjacent literals — keeps the toggle
    // aligned: the ')' after 'it''s)' is in-string and must not close
    // the definition early
    val esc =
      """WITH base AS (SELECT 1 AS y)
        |SELECT y, SUM(y) OVER w1 AS a, MAX(y) OVER w2 AS b FROM base
        |WINDOW w1 AS (ORDER BY concat('it''s)', y)),
        |  w2 AS (PARTITION BY y)""".stripMargin
    val out2 = Oracles.materialize(esc)
    out2 should include("w2 AS (PARTITION BY y)")
    (out2 should not).include("w2 AS MATERIALIZED")
    // a '(' inside a double-quoted identifier is opaque too
    val ident =
      """WITH base AS (SELECT 1 AS "a(b", 2 AS y)
        |SELECT y, SUM(y) OVER w1 AS a, MAX(y) OVER w2 AS b FROM base
        |WINDOW w1 AS (ORDER BY "a(b"),
        |  w2 AS (PARTITION BY y)""".stripMargin
    val out3 = Oracles.materialize(ident)
    out3 should include("w2 AS (PARTITION BY y)")
    (out3 should not).include("w2 AS MATERIALIZED")
    // ... and so is a '(' inside a `--` line comment
    val comment =
      """WITH base AS (SELECT 1 AS y)
        |SELECT y, SUM(y) OVER w1 AS a, MAX(y) OVER w2 AS b FROM base
        |WINDOW w1 AS (ORDER BY y -- tie-break (by y
        |  ),
        |  w2 AS (PARTITION BY y)""".stripMargin
    val out4 = Oracles.materialize(comment)
    out4 should include("w2 AS (PARTITION BY y)")
    (out4 should not).include("w2 AS MATERIALIZED")
  }

  test("a name defined twice (nested WITH shadowing) stays inlined") {
    val in =
      """WITH dup AS (SELECT 1 AS x),
        |outer_q AS (WITH dup AS (SELECT 2 AS x) SELECT * FROM dup)
        |SELECT * FROM outer_q JOIN dup USING (x)""".stripMargin
    val out = Oracles.materialize(in)
    (out should not).include("dup AS MATERIALIZED")
    out should include("outer_q AS MATERIALIZED (")
  }

  test("the full dumped oracle surface: no WINDOW definition is ever rewritten") {
    Oracles.sql.foreach { case (name, out) =>
      withClue(s"$name: ") {
        // scan the OUTPUT for any window clause whose definition got the
        // MATERIALIZED keyword — invalid SQL the compare would throw on
        val bad = """(?is)\bWINDOW\s+\w+\s+AS\s+MATERIALIZED""".r
        bad.findFirstIn(out) shouldBe None
        // and the comma-chained SECOND definition (the lookbehind's
        // blind spot): `WINDOW w1 AS (...), w2 AS MATERIALIZED`
        val bad2 =
          ("""(?is)\bWINDOW\s+\w+\s+AS\s*\((?:[^()]|\([^()]*\))*\)""" +
            """\s*,\s*\w+\s+AS\s+MATERIALIZED""").r
        bad2.findFirstIn(out) shouldBe None
      }
    }
  }

  test("rewriting is stable: already-materialized text is not double-rewritten") {
    val once = Oracles.sql("q33_ann_ivf")
    Oracles.materialize(once) shouldBe once
  }
}
