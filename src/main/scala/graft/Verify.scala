package graft
import java.nio.file.{Files, Paths}

/** Canonical value normalization for the per-query row digest — mirrors
  * `tools/check.py`'s `norm()` (itself a replica of the driver's value
  * hashing): floats as Python `%.9g`, Decimal keeping scale, Python
  * bool/None spellings, lists bracketed. The digest makes a DRIVER-ONLY
  * hash mismatch diagnosable from the dump alone: the artifact carries
  * the value-level fingerprint of exactly what was written, so an
  * environment-specific re-read difference (decimal physical type,
  * timestamp convention) shows up as digest-vs-driver disagreement
  * rather than an unexplainable red row. */
private[graft] object Canon {
  /** Python `f"{v:.9g}"` equivalent: 9 significant digits, trailing
    * zeros stripped, exponent form iff exp < -4 or >= 9. NOT
    * `java.util.Formatter`'s `%.9g` — Java rounds decimal ties HALF_UP
    * where Python rounds the EXACT binary value half-even (2^-13 renders
    * `0.000122070313` in Java vs `0.000122070312` in Python), which made
    * digests.json disagree with check.py's recomputation on identical
    * values. `new BigDecimal(double)` is the exact binary value; rounding
    * THAT to 9 significant digits HALF_EVEN is precisely Python's
    * correctly-rounded `%g`. */
  def g9(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else if (d == 0.0) {
      if (java.lang.Double.doubleToRawLongBits(d) != 0L) "-0" else "0"
    } else {
      val bd = new java.math.BigDecimal(d)
        .round(new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN))
        .stripTrailingZeros()
      val neg = bd.signum() < 0
      val abs = bd.abs()
      val digits = abs.unscaledValue().toString
      val exp = digits.length - 1 - abs.scale() // floor(log10(|v|))
      val sb = new StringBuilder(if (neg) "-" else "")
      if (exp >= -4 && exp < 9) {            // fixed notation
        if (exp >= 0) {
          if (digits.length <= exp + 1)
            sb.append(digits).append("0" * (exp + 1 - digits.length))
          else sb.append(digits.substring(0, exp + 1)).append('.')
            .append(digits.substring(exp + 1))
        } else sb.append("0.").append("0" * (-exp - 1)).append(digits)
      } else {                               // exponent notation, e±NN
        sb.append(digits.charAt(0))
        if (digits.length > 1) sb.append('.').append(digits.substring(1))
        sb.append('e').append(if (exp < 0) '-' else '+')
        val ea = math.abs(exp).toString
        sb.append(if (ea.length < 2) "0" + ea else ea)
      }
      sb.toString
    }
  /** Python-style `str(bytes)` repr for BLOB cells — including repr's
    * QUOTE-SWITCH rule: a payload containing `'` but no `"` renders
    * double-quoted with `'` literal (`repr(b"it's") == b"it's"`);
    * everything else single-quoted with `'` escaped. */
  private def pyBytes(b: Array[Byte]): String = {
    val hasSq = b.contains(0x27.toByte)
    val hasDq = b.contains(0x22.toByte)
    val dq = hasSq && !hasDq
    val quote = if (dq) '"' else '\''
    val sb = new StringBuilder("b").append(quote)
    b.foreach {
      case 0x5c => sb.append("\\\\")
      case 0x27 if !dq => sb.append("\\'")
      case c if c >= 0x20 && c < 0x7f => sb.append(c.toChar)
      case 0x09 => sb.append("\\t"); case 0x0a => sb.append("\\n")
      case 0x0d => sb.append("\\r")
      case c => sb.append(f"\\x${c & 0xff}%02x")
    }
    sb.append(quote).toString
  }
  /** Python `repr(str)` — what `str(dict)` applies to keys and string
    * values: quote-switch (single quotes unless the text has `'` and no
    * `"`), backslash/quote/\n/\r/\t escapes, other control chars as
    * \xNN. Printable non-ASCII stays literal (Python 3 repr). */
  private def pyStr(s: String): String = {
    val hasSq = s.contains('\'')
    val dq = hasSq && !s.contains('"')
    val quote = if (dq) '"' else '\''
    val sb = new StringBuilder(s.length + 2).append(quote)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\'' if !dq => sb.append("\\'")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 || c == 0x7f => sb.append(f"\\x${c.toInt}%02x")
      case c => sb.append(c)
    }
    sb.append(quote).toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def norm(v: Any): String = v match {
    case null => "None"
    case d: java.lang.Double => g9(d)
    case f: java.lang.Float => g9(f.toDouble)
    case b: java.lang.Boolean => if (b) "True" else "False"
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      val base = tsFmt.format(i)
      val micros = i.getNano / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    case s: Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => pyBytes(a)
    case a: Array[_] => a.map(norm).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      // STRUCT cells: Python-side `str(dict)` shape (`{'f': v, ...}`) —
      // keys and string values repr'd (quote-switch and all), other
      // values via norm. Best-effort, documented boundary: Python reprs
      // nested floats (shortest round-trip) where norm renders %.9g, so
      // a struct holding a float may still NOTE-mismatch; no current
      // query dumps one (arrays and scalars cover the surface).
      val names: Array[String] =
        if (r.schema != null) r.schema.fieldNames
        else Array.tabulate(r.length)(i => s"_$i")
      names.zipWithIndex.map { case (n, i) =>
        val vs = r.get(i) match {
          case s: String => pyStr(s)
          case other => norm(other)
        }
        s"${pyStr(n)}: $vs"
      }.mkString("{", ", ", "}")
    case other => String.valueOf(other) // Long/Int/String/Date share str()
  }
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  /** Python's `sorted(strs)` compares CODE POINTS; Scala/Java `.sorted`
    * compares UTF-16 code units, which inverts the order between astral
    * chars (surrogate pairs, 0xD800-) and BMP chars above 0xE000 —
    * Python order is what check.py recomputes, so the digest sorts by
    * code point. */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
  def digest(rowStrs: Array[String]): String = {
    val sorted = rowStrs.sortWith(cpCompare(_, _) < 0)
    md5Hex(sorted.mkString("\u001e"))
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else scala.None
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A thrown query must be VISIBLE in the artifact, not just stderr: round 9
    // lost 16 queries because failures were only logged and the driver read
    // "every dir present passed" as "everything passed". On failure we write
    // <outDir>/<name>/_FAILED (so the dir exists but is not readable parquet —
    // the driver's compare records an err row instead of silently skipping)
    // and collect everything into <outDir>/errors.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val digests =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // per-query session isolation: a fresh SessionState (catalog, temp
      // views, session conf) per query, so a leaked temp view or conf
      // change in one query can never silently feed another's plan. The
      // SparkContext and cache manager stay shared — the cache-leak gate
      // below still sees everything.
      val sess = spark.newSession()
      try {
        fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // canonical digest of the DUMP (re-read, so it fingerprints the
        // bytes the driver will read, not the pre-write plan): columns
        // sorted by name, values normalized check.py-style, row strings
        // sorted. Lets a driver-only hash mismatch be triaged from the
        // artifact without reproducing the driver environment.
        val back = sess.read.parquet(s"$outDir/$name")
        val cols = back.columns.sorted.map(org.apache.spark.sql.functions.col)
        val rowStrs = back.select(cols.toIndexedSeq: _*).collect().map { r =>
          (0 until r.length).map(i => Canon.norm(r.get(i))).mkString("\u001f")
        }
        digests(name) = (Canon.digest(rowStrs), rowStrs.length.toLong)
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("_FAILED"), msg)
      }
      // operator-internal persist()s (minhash/simhash signature caches) are
      // per-corpus; queries run once each here, so drop them eagerly rather
      // than letting 64 caches accumulate until LRU eviction
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val digJson = digests.map { case (k, (md5, rows)) =>
      s"${q(k)}: {${q("md5")}: ${q(md5)}, ${q("rows")}: $rows}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/digests.json"), digJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    // enforce the operator cache-lifecycle contract (NearDup and friends
    // persist() internally and document session-managed cleanup): if any
    // query leaked a cached frame past its clearCache(), fail the run —
    // at 100 TB a leaked cache is executor memory gone for the session
    if (!spark.sharedState.cacheManager.isEmpty) {
      System.err.println("[verify] FATAL: cache manager non-empty at exit " +
        "— an operator leaked a persisted frame past its lifecycle")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
