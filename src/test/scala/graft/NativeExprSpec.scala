package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.GenerateExec

import graft.dedup.Dedup
import graft.functions.{ShingleSet, TrigramLmScore}
import graft.text.NgramLm

/** Round-5 native expressions: each one must be a bit-exact twin of the
  * declarative formulation it replaces (the SQL oracles are written
  * against the declarative semantics). */
class NativeExprSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------ ShingleSet

  private def declarativeSet(n: Int) = {
    // the replaced formulation, over a STAGED token attribute
    array_sort(array_distinct(Dedup.shinglesOfTokens(col("toks"), n)))
  }

  test("graft_shingle_set equals the declarative sorted-distinct formulation") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the the the the",
      "a b",                       // fewer than 3 tokens -> empty for n=3
      "x",
      "one two three two three four two three five"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    for (n <- Seq(1, 2, 3)) {
      val got = docs.select(col("id"),
        call_function(ShingleSet.Name, col("toks"), lit(n)).as("s"))
      val want = docs.select(col("id"), declarativeSet(n).as("s"))
      val g = got.as[(Long, Seq[String])].collect().toMap
      val w = want.as[(Long, Seq[String])].collect().toMap
      assert(g == w, s"n=$n mismatch: $g vs $w")
    }
  }

  test("graft_shingle_list equals the declarative all-occurrences formulation") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the the the the",            // duplicates MUST be kept, in order
      "a b",                        // fewer than 3 tokens -> empty for n=3
      "x",
      "one two three two three four two three five"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    for (n <- Seq(1, 2, 3)) {
      val got = docs.select(col("id"),
        call_function(graft.functions.ShingleList.Name, col("toks"), lit(n)).as("s"))
      val want = docs.select(col("id"), Dedup.shinglesOfTokens(col("toks"), n).as("s"))
      val g = got.as[(Long, Seq[String])].collect().toMap
      val w = want.as[(Long, Seq[String])].collect().toMap
      assert(g == w, s"n=$n mismatch: $g vs $w")
    }
  }

  test("graft_shingle_set orders supplementary characters like array_sort") {
    // U+1F600 (surrogate pair, UTF-16 units start 0xD83D) vs U+FFFD:
    // java.lang.String order would put the emoji FIRST; UTF8String binary
    // order (array_sort's) puts it LAST. The native set must match
    // array_sort.
    val df = Seq((1L, Seq("😀", "�", "zz"))).toDF("id", "toks")
    val got = df.select(call_function(ShingleSet.Name, col("toks"), lit(1)))
      .as[Seq[String]].head()
    val want = df.select(array_sort(array_distinct(col("toks"))))
      .as[Seq[String]].head()
    assert(got == want)
    assert(got.last == "😀", "code-point order puts U+1F600 after U+FFFD")
  }

  test("graft_shingle_set null/empty edges") {
    val df = Seq((1L, Some(Seq("a", "b", "c"))), (2L, None), (3L, Some(Seq.empty[String])))
      .toDF("id", "toks")
    val got = df.select(col("id"),
        call_function(ShingleSet.Name, col("toks"), lit(3)).as("s"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(got(1L).contains(Seq("a b c")))
    assert(got(2L).isEmpty, "null input -> null (matches HOF chain)")
    assert(got(3L).contains(Seq.empty), "short input -> empty array")
  }

  // -------------------------------------------------------- TrigramLmScore

  test("native LM score equals the declarative join twin bit-for-bit") {
    val rnd = new scala.util.Random(17)
    val vocab = "abcdefg xyz".split(" ")
    val docs = (1L to 60L).map { i =>
      val len = rnd.nextInt(12)
      val t = (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i, if (i % 17 == 0) null else t)   // include empty and null texts
    }.toDF("doc_id", "text")
    val native = NgramLm.score(docs, "doc_id", "text")
      .as[(Long, Option[Double])].collect().toMap
    val twin = NgramLm.scoreByJoin(docs, "doc_id", "text")
      .as[(Long, Option[Double])].collect().toMap
    assert(native == twin)
  }

  test("native LM scoring subtree contains no Generate (no per-char explode)") {
    val staged = Seq((1L, "abcabc"), (2L, "abcd")).toDF("doc_id", "t")
    val model = NgramLm.train(staged, "t", "doc_id").collect()
    val packed = model.map { r =>
      val cps = r.getString(0).codePoints().toArray
      (TrigramLmScore.pack(cps(0), cps(1), cps(2)),
        TrigramLmScore.scaled12(r.getLong(1).toDouble / r.getLong(2).toDouble))
    }.sortBy(_._1)
    val scored = staged.select(col("doc_id"),
      call_function(TrigramLmScore.Name,
        lit(TrigramLmScore.blobOf(packed.map(_._1), packed.map(_._2))),
        col("t")).as("lm_score"))
    val plan = scored.queryExecution.executedPlan
    assert(plan.collect { case g: GenerateExec => g }.isEmpty,
      s"scoring must not explode positions:\n$plan")
    // and the arithmetic replay matches the uniform-corpus expectation
    val got = scored.as[(Long, Option[Double])].collect().toMap
    assert(got(1L).contains(NgramLm.scoreByJoin(staged.toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Option[Double])].collect().toMap.apply(1L).get))
  }

  test("LM model cap: oversized charset fails loudly, not with a driver OOM") {
    // cap is 4M — can't build that here; assert the guard exists by
    // checking the cap constant is wired (compile-time presence) and a
    // normal corpus stays under it
    assert(NgramLm.ModelCap == 4 * 1024 * 1024)
  }

  // ----------------------------------------------------- JaroWinkler

  test("graft_jaro_winkler matches DuckDB jaro_winkler_similarity case table") {
    // expected values generated by DuckDB's jaro_winkler_similarity —
    // the oracle engine for q134 (10-decimal pins)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),
      ("DIXON", "DICKSONX", 0.8133333333),
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),
      ("DWAYNE", "DUANE", 0.8400000000),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("abc", "xyz", 0.0),
      ("TRATE", "TRACE", 0.9066666667),
      ("arnab", "aranb", 0.9466666667),
      ("CRATE", "TRACE", 0.7333333333),
      ("aaaaaabc", "aaaaaabd", 0.9500000000),
      ("ab", "ba", 0.0),
      ("customer#1", "customer#2", 0.9600000000),
      ("x", "x", 1.0),
      ("martha", "MARHTA", 0.0),          // case-sensitive
      ("ab", "ac", 0.6666666667),          // jaro <= 0.7: NO prefix bonus
      ("ab", "abcdefghij", 0.7866666667),  // jaro > 0.7: bonus applies
      ("a", "ab", 0.8500000000),
      ("aab", "aba", 0.5555555556)
    )
    val got = cases.zipWithIndex
      .map { case ((a, b, w), i) => (i, a, b, w) }
      .toDF("i", "a", "b", "want")
      .select(col("i"), col("want"),
        call_function(graft.functions.JaroWinkler.Name, col("a"), col("b")).as("sim"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(1)) < 1e-9,
        s"case ${r.getInt(0)}: got ${r.getDouble(2)} want ${r.getDouble(1)}")
    }
  }

  test("graft_jaro_winkler null handling and codegen/interpreted agreement") {
    val df = Seq((Option("abc"), Option.empty[String])).toDF("a", "b")
    val r = df.select(call_function(graft.functions.JaroWinkler.Name,
      col("a"), col("b"))).collect().head
    assert(r.isNullAt(0)) // null-propagating like every binary expression
    // interpreted eval (direct Expression.eval) equals the codegen result
    val e = graft.functions.JaroWinkler(
      org.apache.spark.sql.catalyst.expressions.Literal("DIXON"),
      org.apache.spark.sql.catalyst.expressions.Literal("DICKSONX"))
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 0.8133333333) < 1e-9)
  }

  test("jaroWinklerPairs re-links planted transposition typos") {
    val recs = Seq(
      (1L, "jonathan smith 42 oak street"),
      (2L, "jonathan smiht 42 oak street"),  // transposed 'th' -> planted dup of 1
      (3L, "elizabeth jones 9 maple ave"),
      (4L, "zzz totally unrelated record")
    ).toDF("rid", "name")
    val got = graft.dedup.SortedNeighborhood.jaroWinklerPairs(
        recs, "rid", col("name"), col("name"), window = 3, minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L))) // only the planted near-dup crosses 0.9
  }

  // ------------------------------------------------------------- VocabTf

  test("graft_vocab_tf equals the declarative explode+semi-join tf build") {
    val vocab = Array("the", "fox", "dog", "absent phrase")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the"),
      (3L, "nothing matches here"),
      (4L, "")
    ).toDF("id", "text")
      .select(col("id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val got = docs.select(col("id"),
        call_function(graft.functions.VocabTf.Name, col("toks"), lit(vocab)).as("m"))
      .select(col("id"), explode(col("m")))
      .as[(Long, String, Long)].collect().toSet
    val want = docs.select(col("id"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(vocab.toSeq: _*))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(got === want)
    assert(got === Set((1L, "the", 2L), (1L, "fox", 1L), (1L, "dog", 1L),
      (2L, "the", 3L)))
    // null input array -> null map
    val nulls = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(col("id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .select(call_function(graft.functions.VocabTf.Name, col("toks"), lit(vocab)))
      .collect().head
    assert(nulls.isNullAt(0))
  }

  // --------------------------------------------------------- SortedPairs

  test("graft_sorted_pairs emits every a<b pair in binary order") {
    val got = Seq(Tuple1(Seq("c", "a", "b")), Tuple1(Seq("x")), Tuple1(Seq.empty[String]))
      .toDF("arr")
      .select(explode(call_function(graft.functions.SortedPairs.Name, col("arr"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .as[(String, String)].collect().toSet
    assert(got === Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  // ------------------------------------------------------------ ExactAgg

  test("ExactAgg long split sums equal exact decimal sums and survive negatives") {
    import graft.operators.ExactAgg
    val df = Seq(
      ("a", 1.25), ("a", 2.5), ("a", -0.333333), ("a", 1e9),
      ("b", -7.000001), ("b", 0.0)
    ).toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(ExactAgg.dsum(col("v"), 4).as("s"), ExactAgg.davg(col("v"), 4).as("m"))
      .as[(String, Double, Double)].collect().map { case (k, s, m) => (k, (s, m)) }.toMap
    val want = df.groupBy(col("g"))
      .agg(round(sum(col("v").cast("decimal(30,6)")), 4).cast("double").as("s"),
        round(sum(col("v").cast("decimal(30,6)")).cast("double") / count(lit(1)), 4).as("m"))
      .as[(String, Double, Double)].collect().map { case (k, s, m) => (k, (s, m)) }.toMap
    assert(got === want)
  }
}
