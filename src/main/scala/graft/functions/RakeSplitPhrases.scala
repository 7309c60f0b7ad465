package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** RAKE candidate-phrase splitter as one codegen char walk — the exact
  * semantics of
  *   explode(split(text, "(?:\\s*(?:[^a-z\\s]|\\b(?:stop1|...)\\b)\\s*)+"))
  *   -> trim (space-only, Spark trim semantics) -> filter non-empty
  * with the Java-regex split replaced by a linear scan (the regex
  * alternation + boundary backtracking dominated t29's corpus pass).
  *
  * Delimiter model (provably the regex's match set):
  *  - a char is a DELIMITER CHAR iff it is outside [a-z] and outside
  *    Java \s ([ \t\n\x0B\f\r]);
  *  - a maximal [a-z] run is a DELIMITER WORD iff it equals a stopword
  *    AND both neighbors are outside Java \w ([a-zA-Z0-9_]) — the \b
  *    test (a stopword prefixed/suffixed by a word char never matches);
  *  - a delimiter REGION is a maximal run of whitespace + delimiters
  *    containing at least one delimiter (the regex's \s* glue consumes
  *    every adjacent/interior whitespace; whitespace with no adjacent
  *    delimiter stays inside the phrase).
  * Phrases are the verbatim segments between regions, space-trimmed,
  * empties dropped. RakeSplitPhrasesSpec pins equality to the regex
  * spelling on the real corpus and edge shapes.
  */
object RakeSplitPhrases {
  def apply(t: Column, stopwords: Seq[String]): Column = {
    require(stopwords.nonEmpty && stopwords.forall(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z')),
      "stopwords must be non-empty lowercase ascii words")
    val stops = new java.util.HashSet[String]()
    stopwords.foreach(stops.add)
    StaticCall(this, "phrases", "rake_split_phrases",
      ArrayType(StringType, containsNull = false), t, StringType,
      new Model(stops, s"stopwords(${stops.size})"))
  }

  private def isWs(c: Char): Boolean = // Java regex \s, no UNICODE flag
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isAz(c: Char): Boolean = c >= 'a' && c <= 'z'
  private def isWord(c: Char): Boolean = // Java regex \w, no UNICODE flag
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** The walk — static so generated code calls it directly. */
  def phrases(t: UTF8String, stopSet: Model[java.util.HashSet[String]]): GenericArrayData = {
    val text = t.toString
    val stops = stopSet.value
    val n = text.length
    val delim = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isAz(c)) {
        var j = i + 1
        while (j < n && isAz(text.charAt(j))) j += 1
        if ((i == 0 || !isWord(text.charAt(i - 1))) &&
            (j == n || !isWord(text.charAt(j))) &&
            stops.contains(text.substring(i, j))) {
          var p = i
          while (p < j) { delim(p) = true; p += 1 }
        }
        i = j
      } else {
        if (!isWs(c)) delim(i) = true
        i += 1
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    def emit(a: Int, b: Int): Unit = {
      var s = a
      var e = b
      while (s < e && text.charAt(s) == ' ') s += 1 // Spark trim: ' ' only
      while (e > s && text.charAt(e - 1) == ' ') e -= 1
      if (e > s) out += UTF8String.fromString(text.substring(s, e))
    }
    var segStart = 0
    i = 0
    while (i < n) {
      if (isWs(text.charAt(i)) || delim(i)) {
        var j = i
        var hasD = false
        while (j < n && (isWs(text.charAt(j)) || delim(j))) {
          hasD ||= delim(j)
          j += 1
        }
        if (hasD) { emit(segStart, i); segStart = j }
        i = j
      } else i += 1
    }
    emit(segStart, n)
    new GenericArrayData(out.toArray[Any])
  }
}
