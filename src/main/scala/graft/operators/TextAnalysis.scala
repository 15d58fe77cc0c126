package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality features, token counting, document fingerprinting. Quality and
  * token metrics are pure built-in column expressions (codegen'd); the
  * language heuristic and winnowing fingerprint are single-pass UDFs. */
object TextAnalysis {

  // ---- token counting ----

  /** whitespace token count — matches `len(string_split(text, ' '))`
    * oracle semantics when using single-space split. */
  def wsTokenCount(text: Column): Column = size(split(text, " "))

  // ---- quality features (pure columns) ----

  /** Composite quality features: length, alpha ratio, punctuation ratio,
    * mean word length, stopword ratio — the standard crawl-filtering
    * heuristics, all as built-in expressions. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val alpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val punct = length(regexp_replace(t, "[^.,;:!?]", ""))
    val words = filter(split(t, " "), w => length(w) > 0)
    val nWords = size(words)
    val stop = size(filter(words, w =>
      lower(w).isin("the", "a", "of", "to", "and", "in", "is", "on")))
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (alpha.cast("double") / greatest(nChars, lit(1))).as("alpha_ratio"),
      (punct.cast("double") / greatest(nChars, lit(1))).as("punct_ratio"),
      (nChars.cast("double") / greatest(nWords, lit(1))).as("mean_word_len"),
      (stop.cast("double") / greatest(nWords, lit(1))).as("stopword_ratio"))
  }

  // ---- language ID (n-gram/stopword heuristic) ----

  private val LANG_MARKERS: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to ", " is ", " in "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des ", " une "),
    "de" -> Seq(" der ", " die ", " und ", " das ", " ist ", " nicht "),
    "es" -> Seq(" el ", " la ", " los ", " que ", " una ", " es "),
    "zh" -> Seq("的", "是", "在", "了", "和", "有")
  )

  /** Tiny marker-count language classifier; returns (lang, confidence).
    * For CJK it counts characters, for latin languages spaced stopwords. */
  def langIdPair(text: String): (String, Double) = {
    if (text == null || text.isEmpty) return ("und", 0.0)
    val padded = " " + text.toLowerCase + " "
    var bestLang = "und"
    var bestScore = 0
    var total = 0
    for ((lang, markers) <- LANG_MARKERS.toSeq.sortBy(_._1)) {
      var score = 0
      for (m <- markers) {
        // non-overlapping count (greedy left-to-right) — the same
        // semantics as a replace-and-measure count, so the heuristic is
        // exactly reproducible in plain SQL for the DuckDB oracle
        var idx = padded.indexOf(m)
        while (idx >= 0) { score += 1; idx = padded.indexOf(m, idx + m.length) }
      }
      total += score
      if (score > bestScore) { bestScore = score; bestLang = lang }
    }
    if (total == 0) ("und", 0.0) else (bestLang, bestScore.toDouble / total)
  }

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val u = udf((t: String) => { val (l, c) = langIdPair(t); (l, c) })
    df.select(col(idCol), u(col(textCol)).as("lid"))
      .select(col(idCol), col("lid._1").as("lang_pred"), col("lid._2").as("lang_conf"))
  }

  // ---- document fingerprinting (winnowing rolling hash) ----

  /** Winnowing fingerprint: rolling hash over character k-grams, local
    * minima per window — robust to small edits, standard for near-dup /
    * provenance at corpus scale. */
  /** The per-position k-gram rolling hashes winnowing selects from —
    * exposed so the selection step can be oracle-checked over a staged
    * copy of this exact table (polynomial rolling hash base 257). */
  def kgramHashes(text: String, k: Int = 8): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    val B = 257L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1) * pow) * B + text.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    hashes
  }

  def winnowingFingerprint(text: String, k: Int = 8, window: Int = 16): Array[Long] = {
    val hashes = kgramHashes(text, k)
    if (hashes.isEmpty) return Array.empty
    val n = hashes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var lastPicked = -1
    i = 0
    val m = math.max(1, n - window + 1)
    while (i < m) {
      var minIdx = i
      var j = i
      while (j < math.min(i + window, n)) {
        if (java.lang.Long.compareUnsigned(hashes(j), hashes(minIdx)) <= 0) minIdx = j
        j += 1
      }
      if (minIdx != lastPicked) { out += hashes(minIdx); lastPicked = minIdx }
      i += 1
    }
    out.toArray
  }

  /** One 64-bit document fingerprint (hash of the winnowed set). */
  def docFingerprint(text: String): Long = {
    var acc = 1469598103934665603L
    for (h <- winnowingFingerprint(text)) acc = (acc ^ h) * 1099511628211L
    acc
  }

  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val u = udf((t: String) => docFingerprint(t))
    df.select(col(idCol), u(col(textCol)).as("fingerprint"))
  }
}
