package graft.text

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Word n-grams: the one tokenization contract of every n-gram query
  * (near-dup shingles, decontamination, LM and collocation counts).
  *
  *  - tokens are `split(" ", -1)`: empty tokens from leading, trailing or
  *    repeated spaces are kept, as DuckDB's `string_split` keeps them, so
  *    the oracles' `string_split(text, ' ')[i]` grams match;
  *  - a gram is n consecutive tokens joined by one space;
  *  - null text, or fewer than n tokens, gives no grams;
  *  - distinct mode keeps each gram once, at its first occurrence; multiset
  *    mode keeps every occurrence, in order.
  *
  * A UDF on purpose, not a transform()/element_at() column tree: HOFs are
  * CodegenFallback AND predicate pushdown inlines the aliased split() into
  * every element_at inside the lambda, re-tokenizing the doc once per gram
  * reference — O(n²) interpreted work per row that cost ~250 s cold at
  * sf0.1. Pushdown may still duplicate the UDF into a filter, but each
  * evaluation is a single linear pass. One `val` per (n, mode), so every
  * plan references one UDF instance. */
object Ngrams {

  def of(text: String, n: Int, distinct: Boolean): Array[String] = {
    val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
    val m = math.max(toks.length - n + 1, 0)
    val grams: java.util.Collection[String] =
      if (distinct) new java.util.LinkedHashSet[String](2 * m)
      else new java.util.ArrayList[String](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      grams.add(sb.toString)
      i += 1
    }
    grams.toArray(new Array[String](grams.size))
  }

  private def gramsUdf(n: Int, distinct: Boolean): UserDefinedFunction =
    udf((text: String) => of(text, n, distinct))

  /** distinct 3-grams: the near-dup shingle set */
  val distinct3: UserDefinedFunction = gramsUdf(3, distinct = true)
  /** distinct 5-grams: prefix filtering's wider feature space */
  val distinct5: UserDefinedFunction = gramsUdf(5, distinct = true)
  /** 3-gram occurrences (repetition and LM counts need the multiset) */
  val trigrams: UserDefinedFunction = gramsUdf(3, distinct = false)
  /** 2-gram occurrences */
  val bigrams: UserDefinedFunction = gramsUdf(2, distinct = false)
}
