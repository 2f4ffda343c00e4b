package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftCatalog, PhoenixSql}

/** Fuzz properties over the hand-rolled lexical pipeline
  * (`prepareQueryText` = normalize → binary-literal continuations →
  * RVC OFFSET → ANY/ALL). The regex rewrite passes have been the
  * single richest source of review findings (comment-unaware masks,
  * paren-free argument scans, one-char comment consumes), all of the
  * same shape: a scanner disagreeing with another scanner about where
  * literals and comments are. These properties pin the agreement on
  * thousands of seeded-random statements instead of a handful of
  * hand-picked ones:
  *
  *  P1 INERTNESS — on text whose rewrite triggers (x'..', OFFSET
  *     (k)=(v), = ANY(..)) appear ONLY inside string literals,
  *     backtick identifiers, or comments, the three post-normalize
  *     passes must change NOTHING.
  *  P2 LITERAL PRESERVATION — when real triggers sit outside literals,
  *     sentinel string literals elsewhere in the statement must
  *     survive the rewrites byte-for-byte.
  *  P3 CONTINUATION LEXING — randomly generated multi-part hex/bit
  *     literals (whitespace/comment separators, interior spaces)
  *     collapse to exactly the independently computed X'digits', and
  *     odd-digit/malformed runs throw rather than mis-lex.
  */
class PhoenixSqlFuzzSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private lazy val px: PhoenixSql = {
    val wh = TempDir("graft_sql_fuzz_wh").toString
    new PhoenixSql(spark, new GraftCatalog(spark, wh))
  }

  private val rng = new scala.util.Random(0xF022ED)

  // trigger spellings the later passes rewrite — embedded INSIDE
  // masked regions they must be invisible
  private val triggers = Seq(
    "x'AB' 'CD'", "b'00000001'", "X'ff'",
    "v = ANY(tags)", "7 > ALL(array_distinct(xs))",
    "OFFSET (k1, k2)=(1, 'a')", "a = ANY(arr)")

  private def ident(): String =
    ("abcdefghijklmnopqrstuvwxyz"(rng.nextInt(26)).toString
      + Seq("col", "tbl", "v", "x1", "amt")(rng.nextInt(5)))

  private def plainChunk(): String = rng.nextInt(6) match {
    case 0 => ident()
    case 1 => rng.nextInt(1000).toString
    case 2 => Seq(", ", " + ", " - ", " * ", " <= ", " <> ")(rng.nextInt(6))
    case 3 => Seq(" ", "  ", "\n", "\t")(rng.nextInt(4))
    case 4 => Seq("SELECT ", "FROM t ", "WHERE ", "AND ")(rng.nextInt(4))
    case 5 => Seq("(", ")", "()")(rng.nextInt(3))
  }

  // a masked region optionally carrying a trigger spelling inside
  private def maskedChunk(): String = {
    val payload =
      if (rng.nextBoolean()) triggers(rng.nextInt(triggers.length))
      else ident()
    rng.nextInt(4) match {
      case 0 => // string literal; '' is the escaped-quote spelling, and
        // the payload's own quotes must be escaped or they would close
        // the literal and ACTIVATE the trigger
        val esc = if (rng.nextBoolean()) "''" else ""
        s"'$esc${payload.replace("'", "''")}$esc'"
      case 1 => s"`${payload.replace("`", "")}`"
      case 2 => s"-- $payload\n"
      case 3 => s"/* $payload */"
    }
  }

  test("P1: rewrites are inert when triggers hide inside literals, " +
      "backticks, and comments (2000 seeded statements)") {
    for (_ <- 1 to 2000) {
      val s = (1 to (2 + rng.nextInt(10))).map { _ =>
        if (rng.nextInt(3) == 0) maskedChunk() else plainChunk()
      }.mkString
      val n = px.normalizeQueryText(s)
      val out = px.prepareQueryText(s)
      assert(out == n,
        s"post-normalize passes must be inert on:\n<$s>\n" +
          s"normalized:\n<$n>\ngot:\n<$out>")
    }
  }

  test("P2: sentinel literals survive real rewrites byte-for-byte " +
      "(1000 seeded statements)") {
    for (i <- 1 to 1000) {
      val sentinel = s"'SENT${i} x = ANY(tags) OFFSET b${i}'"
      val trigger = rng.nextInt(3) match {
        case 0 => "v = ANY(array_distinct(tags))"
        case 1 => "x'AB' 'CD'"
        case 2 => "amt > ALL(xs)"
      }
      val s = s"SELECT $sentinel, ${ident()} FROM t WHERE $trigger " +
        s"AND c = $sentinel"
      val out = px.prepareQueryText(s)
      assert(out.contains(sentinel) &&
        out.indexOf(sentinel) != out.lastIndexOf(sentinel),
        s"both sentinel literals must survive verbatim in:\n<$out>")
      assert(!out.contains("= ANY(array_distinct") || trigger(0) != 'v',
        s"the real trigger must have been rewritten in:\n<$out>")
    }
  }

  test("P4: normalizeQueryText preserves single-quoted literal contents " +
      "byte-for-byte (1500 seeded statements)") {
    // normalize's own triggers — each must convert OUTSIDE literals and
    // be inert INSIDE them
    // Outside-position chunks must be WELL-FORMED (paired quotes): an
    // unpaired `"` is an unterminated identifier and now fails loudly
    // rather than silently swallowing a later literal.
    val nTriggers = Seq("\"QuotedId\"", "// c", " ",
      "DATE '2020-01-01'", "UNSIGNED_TIME '00:00:00'", "\"x y\"")
    // payloads may be arbitrarily nasty INSIDE a literal, including the
    // unpaired-quote spelling
    val nPayloads = nTriggers :+ "x\"y"
    for (i <- 1 to 1500) {
      val payload = nPayloads(rng.nextInt(nPayloads.length))
        .replace("'", "''")
      val sentinel = s"'SENT$i $payload end'"
      val s = (1 to (1 + rng.nextInt(6))).map { _ =>
        if (rng.nextInt(3) == 0)
          nTriggers(rng.nextInt(nTriggers.length)) + " "
        else plainChunk()
      }.mkString + sentinel + " " + plainChunk()
      val n = px.normalizeQueryText(s)
      assert(n.contains(sentinel),
        s"literal must survive normalize:\n<$s>\n<$n>")
    }
  }

  test("P5: normalizeQueryText and prepareQueryText are idempotent " +
      "(1500 seeded statements)") {
    for (_ <- 1 to 1500) {
      val s = (1 to (2 + rng.nextInt(8))).map { _ =>
        rng.nextInt(4) match {
          case 0 => maskedChunk()
          case 1 => Seq("\"Qid\" ", "// c\n", "DATE '2020-01-01' ",
            "x'AB' ", "v = ANY(tags) ")(rng.nextInt(5))
          case _ => plainChunk()
        }
      }.mkString
      val n1 = px.normalizeQueryText(s)
      assert(px.normalizeQueryText(n1) == n1,
        s"normalize must be idempotent on:\n<$s>\ngot:\n<$n1>")
      // the generator can compose dialect-INVALID text (an x'AB'
      // followed by an ordinary string literal is a continuation and
      // must be hex) — a loud typed rejection is correct behavior, and
      // the property then is that it rejects CONSISTENTLY
      val p1 = try px.prepareQueryText(s) catch {
        case _: IllegalArgumentException =>
          intercept[IllegalArgumentException](px.prepareQueryText(s))
          null
      }
      if (p1 != null)
        assert(px.prepareQueryText(p1) == p1,
          s"prepare must be idempotent on:\n<$s>\ngot:\n<$p1>")
    }
  }

  test("P3: multi-part hex/bit literals collapse to the independently " +
      "computed X'digits' (1000 seeded runs)") {
    val hexChars = "0123456789abcdefABCDEF"
    def sep(): String = rng.nextInt(4) match {
      case 0 => " " * (1 + rng.nextInt(3))
      case 1 => "\n\t "
      case 2 => s" -- c${rng.nextInt(10)}\n"
      case 3 => s" /* c${rng.nextInt(10)} */ "
    }
    for (_ <- 1 to 1000) {
      val isHex = rng.nextBoolean()
      val nParts = 1 + rng.nextInt(4)
      // parts may carry interior spaces (ignored by the lexer)
      val parts = (1 to nParts).map { _ =>
        val digits = (1 to (1 + rng.nextInt(6))).map { _ =>
          if (isHex) hexChars(rng.nextInt(hexChars.length)).toString
          else rng.nextInt(2).toString
        }
        digits.mkString(if (rng.nextInt(4) == 0) " " else "")
      }
      val joined = parts.map(_.replace(" ", "")).mkString
      val prefix = if (isHex) Seq("x", "X")(rng.nextInt(2))
                   else Seq("b", "B")(rng.nextInt(2))
      val lit = prefix + parts.map(p => s"'$p'").mkString(sep())
      val s = s"SELECT $lit FROM t"
      val valid =
        if (isHex) joined.length % 2 == 0 else joined.length % 8 == 0
      if (!valid)
        intercept[IllegalArgumentException] { px.rewriteBinaryLiterals(s) }
      else {
        val expected =
          if (isHex) joined
          else joined.grouped(8)
            .map(b => f"${Integer.parseInt(b, 2)}%02x").mkString
        val out = px.rewriteBinaryLiterals(s)
        assert(out == s"SELECT X'$expected' FROM t",
          s"<$lit> lexed to <$out>, expected X'$expected'")
      }
    }
  }
}
