package graft.text

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.2 "property" row). Uses raw ScalaCheck
  * generators with deterministic seeds (scalatestplus bridge isn't in the
  * offline dependency set). */
class TextPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(20))

  test("stemmer is total, lowercase, and never grows a word by more than 1") {
    samples(wordGen).foreach { w =>
      val s = Porter2.stem(w)
      assert(s == s.toLowerCase)
      // Porter2 only ever appends a single 'e' (step-1b rules)
      assert(s.length <= w.length + 1, s"$w -> $s grew")
      assert(s.nonEmpty)
    }
  }

  test("stemmer is (almost-)idempotent over the golden vocabulary") {
    // not a theorem for arbitrary strings, but must hold on real outputs:
    // re-cleaning already-cleaned text is nearly a no-op (idempotent reruns)
    val dir = getClass.getResource("/golden").getPath
    val words = new java.io.File(dir).listFiles.filter(_.isDirectory).flatMap { d =>
      scala.io.Source.fromFile(s"$d/cleaned.csv", "UTF-8").getLines()
        .drop(1).flatMap(_.split(";").lift(1)).flatMap(_.split(" "))
    }.toSet.filter(_.nonEmpty)
    val unstable = words.filter(w => Porter2.stem(w) != w)
    // measured 3.4% non-fixed-points (e.g. promis->promi via the step-1a
    // s-rule) — inherent to Porter stems, bound documents the magnitude
    assert(unstable.size <= words.size / 20,
      s"${unstable.size}/${words.size} golden stems unstable: ${unstable.take(10)}")
  }

  test("\\w+ tokenizer == whitespace-split spec on word/space strings") {
    val textGen = Gen.listOf(Gen.oneOf(wordGen, Gen.const(" ")))
      .map(_.mkString(" "))
    samples(textGen).foreach { t =>
      val viaRegex = "(?U)\\w+".r.findAllIn(t).toList
      val viaSplit = t.split("\\s+").filter(_.nonEmpty).toList
      assert(viaRegex == viaSplit, s"input: '$t'")
    }
  }

  test("clean chain drops every pinned stopword regardless of case") {
    Stopwords.tokensOnly.foreach { sw =>
      val out = Clean.cleanWords(s"Title ${sw.toUpperCase}", s"body $sw end")
      assert(!out.split(" ").contains(sw), s"stopword '$sw' survived: $out")
    }
  }

  test("word n-grams match a naive sliding window on edge inputs") {
    def naive(text: String, n: Int, distinct: Boolean): Seq[String] = {
      val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
      val grams =
        if (toks.length < n) Nil else toks.sliding(n).map(_.mkString(" ")).toSeq
      if (distinct) grams.distinct else grams
    }
    val inputs = Seq(null, "", "one", "a b", "a b c", "a b c d e",
      " lead", "trail ", "a  b", "  a b  ", "a b a b a b", "x y x y x y x y x")
    for (text <- inputs; n <- Seq(2, 3, 5); distinct <- Seq(true, false))
      assert(Ngrams.of(text, n, distinct).toSeq == naive(text, n, distinct),
        s"n=$n distinct=$distinct text=[$text]")
    // pinned cases of the contract: empty tokens are kept, distinct keeps
    // the first occurrence, multiset keeps all
    assert(Ngrams.of("a  b", 2, distinct = false).toSeq == Seq("a ", " b"))
    assert(Ngrams.of(" a b", 3, distinct = true).toSeq == Seq(" a b"))
    assert(Ngrams.of("a b a b a", 2, distinct = true).toSeq == Seq("a b", "b a"))
    assert(Ngrams.of("a b a b a", 2, distinct = false).toSeq ==
      Seq("a b", "b a", "a b", "b a"))
    assert(Ngrams.of("a b c d", 5, distinct = true).isEmpty)
    assert(Ngrams.of("a b c d e", 5, distinct = true).toSeq == Seq("a b c d e"))
    assert(Ngrams.of(null, 2, distinct = false).isEmpty)
    assert(Ngrams.of("", 2, distinct = false).isEmpty)
  }
}
