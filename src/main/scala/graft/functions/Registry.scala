package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{call_function, lit}

/** Registers graft's custom Catalyst expressions with a session's function
  * registry so they are usable from both the Column API and SQL.
  */
object Registry {

  /** Idempotent: a name the session already holds is left as it is, so a
    * second call neither re-registers nor logs "replaced a previously
    * registered function".
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def define(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    define("graft_product", exprs =>
      GraftProduct(org.apache.spark.sql.catalyst.expressions.Cast(
        exprs.head, org.apache.spark.sql.types.DoubleType)).toAggregateExpression())
    define("graft_dot", exprs => DotProduct(exprs(0), exprs(1)))
    define("graft_dot_int", exprs => IntDotProduct(exprs(0), exprs(1)))
    define("graft_simhash64", exprs => SimHash64Expr(exprs.head))
    define("graft_fingerprint_portable", exprs => PortableFingerprintExpr(exprs.head))
    define("graft_simhash_portable", exprs => PortableSimHashExpr(exprs.head))
    define("graft_token_hash", exprs => PortableTokenHashExpr(exprs.head))
    define("graft_jaccard_sorted", exprs => JaccardSortedExpr(exprs(0), exprs(1)))
    define("graft_jaro_winkler", exprs => JaroWinklerExpr(exprs(0), exprs(1)))
    define("graft_minhash", exprs => {
      requireFoldable(exprs(1), "graft_minhash", "num_hashes must be a literal int")
      MinHashSignatureExpr(exprs(0), exprs(1).eval().asInstanceOf[Int])
    })
    define("graft_match_frac", exprs => MatchFractionExpr(exprs(0), exprs(1)))
    define("graft_stopword_hits", exprs => {
      requireFoldable(exprs(1), "graft_stopword_hits",
        "word lists must be a literal array<array<string>>")
      val ad = exprs(1).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val lists = (0 until ad.numElements()).map { i =>
        val inner = ad.getArray(i)
        (0 until inner.numElements()).map(j => inner.getUTF8String(j).toString)
      }
      StopwordHitsExpr(exprs(0), lists)
    })
    define("graft_dup_fracs", exprs => {
      requireFoldable(exprs(1), "graft_dup_fracs",
        "ns must be a literal array<int>")
      requireFoldable(exprs(2), "graft_dup_fracs",
        "strides must be a literal array<int>")
      val ns = exprs(1).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
      val strides = exprs(2).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
      require(ns.length == strides.length,
        "graft_dup_fracs: ns and strides must have the same length")
      NgramDupFracsExpr(exprs(0), ns.zip(strides).toSeq)
    })
    define("graft_word_shingles", exprs => {
      requireFoldable(exprs(1), "graft_word_shingles",
        "shingle size must be a literal int")
      WordShinglesExpr(exprs(0), exprs(1).eval().asInstanceOf[Int])
    })
    define("graft_shingle_explode", exprs => {
      requireFoldable(exprs(1), "graft_shingle_explode",
        "shingle size must be a literal int")
      ShingleExplodeExpr(exprs(0), exprs(1).eval().asInstanceOf[Int])
    })
    define("graft_nfc", exprs => NfcNormalizeExpr(exprs.head))
    // INPUT CONTRACT: the token array must be NULL-FREE (tokenize with
    // graft's portable tokenizer / TextFns.portableTokens, which guarantees
    // it) — a null element throws at runtime rather than hashing to a
    // sentinel, because hash-first consumers re-derive exact window strings
    // via concat_ws, which DROPS nulls and would break the hash-position ↔
    // string-window mirror (two distinct windows verifying as one string).
    // Every in-repo call site (Dedup.scrubBoilerplate /
    // scrubDuplicateSpans, Incremental.applySpanBatch) satisfies this.
    define("graft_shingle_hashes", exprs => {
      requireFoldable(exprs(1), "graft_shingle_hashes",
        "shingle size must be a literal int")
      ShingleHashesExpr(exprs(0), exprs(1).eval().asInstanceOf[Int])
    })
  }

  /** SQL-surface guard: these builders eval() an argument at resolution time,
    * which only works for foldable (literal/constant-folded) expressions — a
    * column argument would otherwise die in an opaque ClassCastException.
    */
  private def requireFoldable(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, what: String): Unit =
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" -> s"$fn: $what (got non-foldable: ${e.sql})"))

  /** Merge-pass Jaccard of two sorted array<long> columns. */
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("graft_jaccard_sorted", a, b)

  /** Jaro-Winkler similarity of two string columns (DuckDB-compatible
    * semantics — see [[JaroWinkler]]).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)

  /** Positional match fraction of two equal-length array<long> columns
    * (MinHash Jaccard estimator).
    */
  def matchFraction(a: Column, b: Column): Column =
    call_function("graft_match_frac", a, b)

  /** Native simhash over an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("graft_simhash64", tokens)

  /** Cross-engine portable fingerprint over an array<string> token column
    * (requires [[register]] on the session).
    */
  def fingerprintPortable(tokens: Column): Column =
    call_function("graft_fingerprint_portable", tokens)

  /** Cross-engine per-token hash (mod-prime polynomial fold, [0, 2^31−1))
    * for feature-hashing / bucketing (requires [[register]] on the session).
    */
  def tokenHash(token: Column): Column =
    call_function("graft_token_hash", token)

  /** Cross-engine 31-bit simhash over an array<string> token column
    * (requires [[register]] on the session).
    */
  def simhashPortable(tokens: Column): Column =
    call_function("graft_simhash_portable", tokens)

  /** Native minhash signature over an array<string> shingle column. */
  def minhash(shingles: Column, numHashes: Int): Column =
    call_function("graft_minhash", shingles, lit(numHashes))

  /** Per-word-list hit counts of a token array in one native pass
    * (requires [[register]] on the session).
    */
  def stopwordHits(tokens: Column, lists: Seq[Seq[String]]): Column =
    call_function("graft_stopword_hits", tokens,
      org.apache.spark.sql.functions.typedlit(lists))

  /** Duplicate-window fractions, one per (n, stride) spec, in a single native
    * pass (requires [[register]] on the session).
    */
  def dupFracs(tokens: Column, specs: Seq[(Int, Int)]): Column =
    call_function("graft_dup_fracs", tokens,
      org.apache.spark.sql.functions.typedlit(specs.map(_._1)),
      org.apache.spark.sql.functions.typedlit(specs.map(_._2)))

  /** Word n-gram shingles in one native pass (requires [[register]]). */
  def wordShingles(tokens: Column, n: Int): Column =
    call_function("graft_word_shingles", tokens, lit(n))

  /** 64-bit window hashes without window-string materialization (requires
    * [[register]]); positions mirror graft_shingle_explode.
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    call_function("graft_shingle_hashes", tokens, lit(n))

  /** Unicode NFC normalization (codegen'd; requires [[register]]). */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Codegen'd vector dot product (requires [[register]] on the session). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Exact integer dot product over int8-quantized codes (requires [[register]]). */
  def dotInt(a: Column, b: Column): Column = call_function("graft_dot_int", a, b)

  /** Multiplicative aggregate (requires [[register]] on the session). */
  def product(c: Column): Column = call_function("graft_product", c)
}
