package graft

import org.apache.spark.sql.functions._

/** json_long's contract is VALUE PARITY with
  * `TRY_CAST(get_json_object(json, '$.key') AS BIGINT)` — try_cast
  * because under ANSI (Spark 4's default) a plain CAST would THROW on a
  * non-integer image where both json_long and the p5 reject-semantics
  * need NULL. Asserted by running both expressions over every case and
  * over the fixture, not by re-deriving expected values twice. */
class JsonGetLongSpec extends SparkSpecBase {

  private def both(cases: Seq[String], key: String = "k"): Seq[(String, Any, Any)] = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    cases.toDF("j")
      .select($"j",
        expr(s"json_long(j, '$key')").as("native"),
        expr(s"try_cast(get_json_object(j, '$$.$key') AS BIGINT)").as("jackson"))
      .collect()
      .map(r => (r.getString(0), r.get(1), r.get(2)))
      .toSeq
  }

  private def assertParity(cases: Seq[String], key: String = "k"): Unit =
    both(cases, key).foreach { case (j, n, ref) =>
      assert(n === ref, s"json_long diverged from get_json_object on: $j")
    }

  test("plain integers, whitespace, negatives, quoted digits") {
    assertParity(Seq(
      """{"k": 69}""", """{"k":0}""", """{ "k" : -42 }""",
      """{"k": 9223372036854775807}""", """{"k": -9223372036854775808}""",
      """{"k": "123"}""", """{"k": "-7"}""",
      "{\n\t\"k\"\n:\n7\n}"))
  }

  test("absent keys, corrupt JSON, non-integer values are NULL on both sides") {
    assertParity(Seq(
      """{"x": 1}""", """{}""", """not json at all""", """{"k": }""",
      """{"k"}""", """[1,2,3]""", """{"k": 1.5}""", """{"k": 2e3}""",
      """{"k": true}""", """{"k": null}""", """{"k": "abc"}""",
      """{"k": [1]}""", """{"k": {"n": 1}}""", """{"k": 12abc}""", ""))
  }

  test("key lookalikes inside payloads do not false-match") {
    assertParity(Seq(
      // the key appears inside a preceding STRING value
      """{"a": "\"k\": 99", "k": 7}""",
      """{"a": "{\"k\": 99}", "k": 7}""",
      // the key appears in a NESTED object (not top-level)
      """{"a": {"k": 99}, "k": 7}""",
      """{"a": [{"k": 99}], "k": 7}""",
      // nested-only occurrence: top-level k absent
      """{"a": {"k": 99}}""",
      // escapes in sibling keys
      """{"a\"b": 1, "k": 7}"""))
  }

  test("duplicate keys: first NON-NULL occurrence wins, matching the Jackson stream") {
    assertParity(Seq(
      """{"k": 1, "k": 2}""",
      // a null-valued match does not settle the lookup (Jackson writes
      // nothing for it); a later duplicate still matches
      """{"k": null, "k": 7}""",
      """{"k": null, "k": "9"}""",
      """{"k": null, "k": null}""",
      """{"k": null, "a": 1, "k": 1.5}"""))
  }

  test("document-tail corruption after a clean match is NULL (Jackson reads to END_OBJECT)") {
    assertParity(Seq(
      // truncated: the value parsed but the object never closes
      """{"k": 5""", """{"k": 5, "a":""", """{"k": 5, "a": 1""",
      // trailing comma: a Jackson parse error even though k matched
      """{"k":5,}""", """{"k": 5, "a": 1,}""",
      // malformed SIBLING value after the match poisons the document
      """{"k": 5, "a": 12abc}""", """{"k": 5, "a": truex}""",
      """{"k": 5, "a": 007}""", """{"k": 5, "a": [1,]}""",
      """{"k": 5, "a": {"x" 1}}""", """{"k": 5 "a": 1}""",
      // ...but bytes AFTER the closing brace are never read
      """{"k": 5} trailing garbage"""))
  }

  test("leading-zero integers: bare throws in Jackson, quoted survives the cast") {
    assertParity(Seq(
      """{"k": 007}""", """{"k": -007}""", """{"k": 00}""",
      """{"k": 0}""", """{"k": -0}""",
      """{"k": "007"}""", """{"k": "00"}"""))
  }

  test("quoted values ride the cast's trim/sign rules, not the JSON number grammar") {
    assertParity(Seq(
      """{"k": "+5"}""", """{"k": " 5"}""", """{"k": "5 "}""",
      """{"k": "  +5 "}""", """{"k": "+007"}""", """{"k": "-  5"}""",
      """{"k": "+"}""", """{"k": ""}""", """{"k": " "}"""))
  }

  test("quoted-value trim matches the cast's trimAll: all ASCII whitespace AND ISO controls") {
    // try_cast trims with UTF8String.trimAll (Character.isWhitespace ||
    // isISOControl per BYTE) — wider than JSON's structural \s\t\n\r:
    // vertical tab 0x0B, form feed 0x0C, the 0x1C–0x1F separators, and
    // 0x7F all strip from a quoted image before the cast. The raw
    // control char inside a JSON string is itself outside RFC 8259, so
    // this pins whatever Jackson-route behavior Spark ships, not a
    // grammar opinion of our own.
    assertParity(Seq(
      "{\"k\": \"5\"}", "{\"k\": \"\f5\"}",
      "{\"k\": \"5\"}", "{\"k\": \"5\"}",
      "{\"k\": \"5\"}", "{\"k\": \"+5\"}",
      "{\"k\": \"\"}"))
  }

  test("nesting-depth boundary: parity at 998/999/1000/1001/1002") {
    // Jackson's StreamReadConstraints default caps nesting at 1000; the
    // native scanner must flip NULL at exactly the same document depth,
    // not one level off. Probed by construction rather than documented
    // by assumption: k rides beside an array nested to depth d.
    def doc(d: Int) = "{\"a\": " + "[" * d + "]" * d + ", \"k\": 5}"
    assertParity((998 to 1002).map(doc))
  }

  test("differential fuzz: grammar-aware docs + byte-level mutations track get_json_object") {
    // Two consecutive review rounds found parity holes the hand-picked
    // corpus missed (trailing commas, leading zeros, exotic trim ws) —
    // so the corpus is now GENERATED: seeded random valid documents,
    // half of them hit with byte-level mutations (truncation, deletions,
    // insertions of structural bytes, digit prefixes), asserting
    // json_long ≡ try_cast(get_json_object) over the whole set. One
    // documented generator exclusion: no backslashes ever enter a doc —
    // an ESCAPED key image never byte-equals the probe (json_long's
    // plain-identifier contract), which is the one intentional
    // divergence.
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    val rng = new scala.util.Random(20260815L)
    val wsPool = " \t\n\r"
    def ws(): String = if (rng.nextInt(3) == 0) wsPool(rng.nextInt(4)).toString else ""
    def trimWs(): String = // what trimAll strips: ASCII ws + ISO controls
      Seq(" ", "\t", "", "\f", "", "")(rng.nextInt(6))
    def scalar(): String = rng.nextInt(12) match {
      case 0 => rng.nextLong().toString
      case 1 => rng.nextInt(200).toString
      case 2 => "9223372036854775807" + (if (rng.nextBoolean()) "" else rng.nextInt(10).toString)
      case 3 => "-922337203685477580" + rng.nextInt(10).toString
      case 4 => "0" * rng.nextInt(3) + rng.nextInt(100).toString // leading zeros
      case 5 => s""""${trimWs() * rng.nextInt(3)}${if (rng.nextBoolean()) "+" else ""}${rng.nextInt(1000)}${trimWs() * rng.nextInt(3)}""""
      case 6 => s"${rng.nextInt(100)}.${rng.nextInt(100)}"
      case 7 => s"${rng.nextInt(100)}e${rng.nextInt(5)}"
      case 8 => Seq("null", "true", "false")(rng.nextInt(3))
      case 9 => s""""${Seq("abc", "12abc", "", "k", "{\"k\": 9}")(rng.nextInt(5))}""""
      case _ => rng.nextInt(1000000).toString
    }
    def value(depth: Int): String =
      if (depth >= 3 || rng.nextInt(4) > 0) scalar()
      else if (rng.nextBoolean())
        (0 until rng.nextInt(3)).map(_ => value(depth + 1)).mkString("[", ",", "]")
      else
        (0 until rng.nextInt(3)).map(i => s""""n$i":${value(depth + 1)}""").mkString("{", ",", "}")
    def doc(): String = {
      val extras = (0 until rng.nextInt(3)).map(i => s""""x$i":${ws()}${value(0)}""")
      val target = if (rng.nextInt(5) > 0) Seq(s""""k":${ws()}${value(0)}""") else Seq.empty
      rng.shuffle(extras ++ target)
        .mkString("{" + ws(), "," + ws(), ws() + "}")
    }
    val mutPool = "{}[],:\"0189.-+e \t"
    def mutate(s: String): String = {
      var b = s
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        if (b.nonEmpty) rng.nextInt(4) match {
          case 0 => b = b.substring(0, rng.nextInt(b.length)) // truncate
          case 1 => val i = rng.nextInt(b.length) // delete a byte
            b = b.substring(0, i) + b.substring(i + 1)
          case 2 => val i = rng.nextInt(b.length + 1) // insert structural
            b = b.substring(0, i) + mutPool(rng.nextInt(mutPool.length)) + b.substring(i)
          case 3 => val i = rng.nextInt(b.length) // replace
            b = b.substring(0, i) + mutPool(rng.nextInt(mutPool.length)) + b.substring(i + 1)
        }
      }
      b
    }
    val docs = (0 until 10000).map { i =>
      val d = doc()
      if (i % 2 == 1) mutate(d) else d
    }.filterNot(_.contains('\\')) // the documented escaped-key exclusion
    val diverged = docs.toDF("j")
      .select($"j",
        expr("json_long(j, 'k')").as("native"),
        expr("try_cast(get_json_object(j, '$.k') AS BIGINT)").as("jackson"))
      .filter(!($"native" <=> $"jackson"))
      .collect()
    assert(diverged.isEmpty,
      diverged.take(10).map(_.toString).mkString(s"${diverged.length} fuzz divergences: ", " | ", ""))
  }

  test("adversarially deep nesting is NULL on both sides, never a stack overflow") {
    // Jackson caps nesting at 1000 (StreamReadConstraints) and throws
    // past it -> NULL under get_json_object; the native scanner applies
    // the same cap, which also bounds its validation recursion — a
    // 100k-deep payload must return NULL, not kill the executor thread
    val deep = "{\"a\": " + "[" * 100000 + "]" * 100000 + ", \"k\": 5}"
    val shallow = "{\"a\": " + "[" * 50 + "]" * 50 + ", \"k\": 5}"
    assertParity(Seq(shallow, deep))
  }

  test("overflow past the long domain is NULL") {
    // one past Long.MaxValue / Long.MinValue and a 30-digit monster;
    // get_json_object's string image fails the CAST the same way
    assertParity(Seq(
      """{"k": 9223372036854775808}""",
      """{"k": -9223372036854775809}""",
      """{"k": 999999999999999999999999999999}"""))
  }

  test("fixture parity end-to-end plus the p5 plan stays codegen'd and shuffle-free up to the sort") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    val diverged = Tables.events(spark, sfDir)
      .select(
        expr("json_long(props, 'k')").as("native"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("jackson"))
      .filter(!($"native" <=> $"jackson"))
      .count()
    assert(diverged === 0L, "fixture rows diverged from get_json_object")
    val p5 = graft.operators.Relational.p5ValidityFilter(spark, sfDir)
    p5.collect() // finalize the adaptive plan on THIS queryExecution
    val plan = p5.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    // "*(n)" = a WholeStageCodegen span; the scan->filter->project chain
    // must sit inside one
    assert(plan.contains("*(1) Project") || plan.contains("*(1) Filter"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
