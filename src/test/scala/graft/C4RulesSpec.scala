package graft

import graft.functions.TextFunctions

/** C4 line/page filters: per-rule line verdicts, both page rules, the
  * min-kept-lines threshold, clean-text reassembly, and edge cases. */
class C4RulesSpec extends SparkSuite {
  import spark.implicits._

  private def run(text: String, minLineWords: Int = 5,
                  minKeptLines: Int = 3) = {
    val out = TextFunctions.c4Rules(
      Seq((1L, text)).toDF("id", "text"), "id", "text",
      minLineWords, minKeptLines).collect()(0)
    (out.getLong(1), out.getLong(2), out.getBoolean(3), out.getBoolean(4),
      out.getBoolean(5), out.getString(6))
  }

  test("line rules: terminal punctuation, word count, javascript") {
    val text = Seq(
      "This line has enough words to pass easily.",  // kept
      "No terminal punctuation on this line here",   // dropped: no punct
      "Too short.",                                  // dropped: < 5 words
      "Please enable JavaScript to continue reading.", // dropped: javascript
      "Does a question mark count as terminal punctuation?", // kept
      "\"A quoted ending also counts here.\"",       // kept (ends with ")
      "   ",                                         // blank -> not a line
      "Exclamations are fine as line endings too!"   // kept
    ).mkString("\n")
    val (nLines, nKept, lorem, brace, keep, clean) =
      run(text, minLineWords = 5, minKeptLines = 3)
    assert(nLines === 7)
    assert(nKept === 4)
    assert(!lorem && !brace)
    assert(keep)
    assert(clean === Seq(
      "This line has enough words to pass easily.",
      "Does a question mark count as terminal punctuation?",
      "\"A quoted ending also counts here.\"",
      "Exclamations are fine as line endings too!").mkString("\n"))
  }

  test("page rules: lorem ipsum, curly brace, min kept lines") {
    val good = "One good sentence with plenty of words here.\n" +
      "Another good sentence with plenty of words here.\n" +
      "A third good sentence with plenty of words here."
    assert(run(good)._5 === true)
    val (_, _, lorem, _, keepL, cleanL) = run(good + "\nLorem Ipsum dolor.")
    assert(lorem && !keepL && cleanL === "")
    val (_, _, _, brace, keepB, _) = run(good + "\nfunction f() { return; }")
    assert(brace && !keepB)
    // two kept lines under minKeptLines=3 -> dropped; =2 -> kept
    val two = "One good sentence with plenty of words here.\n" +
      "Another good sentence with plenty of words here."
    assert(run(two, minKeptLines = 3)._5 === false)
    assert(run(two, minKeptLines = 2)._5 === true)
  }

  test("edge cases: empty text, single unkept line, whitespace runs") {
    val (n0, k0, _, _, keep0, clean0) = run("")
    assert(n0 === 0 && k0 === 0 && !keep0 && clean0 === "")
    // tabs/multiple spaces between words still count via regex split
    val (_, k1, _, _, _, _) =
      run("these\twords  are   separated by\truns of whitespace.",
        minKeptLines = 1)
    assert(k1 === 1)
    intercept[IllegalArgumentException] {
      TextFunctions.c4Rules(Seq((1L, "x")).toDF("id", "text"), "id", "text",
        minLineWords = 0)
    }
  }

  test("tab-framed lines: regexp trim, not ASCII-space trim") {
    // trim() strips only spaces: a leading tab used to survive (inflating
    // size(split('\s+')) by one empty token) and a trailing tab defeated
    // the terminal-punctuation check. Both must now behave as if the line
    // were cleanly trimmed.
    val text = Seq(
      "\tThis tabbed line has exactly enough words here.\t", // kept
      "\tTab framed short line.\t",       // dropped: 4 words (not 5)
      "Trailing tab then terminal punctuation stays kept.\t", // kept
      "\t \t"                             // whitespace-only -> not a line
    ).mkString("\n")
    val (nLines, nKept, _, _, keep, clean) = run(text, minKeptLines = 2)
    assert(nLines === 3, s"whitespace-only line must not count: $nLines")
    assert(nKept === 2, s"both tab-framed passing lines must be kept: $nKept")
    assert(keep)
    assert(clean ===
      "This tabbed line has exactly enough words here.\n" +
        "Trailing tab then terminal punctuation stays kept.")
  }

  test("keep equals the conjunction of the page rules on every corpus row") {
    import org.apache.spark.sql.functions.col
    val c4 = TextFunctions.c4Rules(table("documents"), "doc_id", "text",
      minLineWords = 5, minKeptLines = 1)
    assert(c4.where(col("keep") =!= (!col("has_lorem") && !col("has_brace") &&
      col("n_kept_lines") >= 1)).count() === 0L)
  }
}
