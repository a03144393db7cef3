package graft.functions

/** Python-3 `str(float)` rendering of a double.
  *
  * The reference dumps every numeric cell through Python's str()
  * (the reference's PsqlParser.py:375-384 `_supaFilta` falls
  * through to `str(value)`), whose float formatting differs from
  * Java/Spark's in notation, not digits: fixed form for decimal
  * exponents in [-4, 16), otherwise `1e-07`-style scientific with a
  * signed two-digit-minimum exponent and no trailing `.0` mantissa —
  * where Spark's cast renders `1.0E-7`. A dump byte-compare breaks on
  * every such cell, so the writer renders floats through this
  * formatter instead of cast-to-string.
  *
  * Digits come from Java's shortest round-trip repr and are
  * re-notated by Python's rules; the rare pre-JDK-19 cases where
  * Java emits a non-minimal digit string (deep subnormals like
  * 4.9E-324 vs Python's 5e-324) are the documented limit.
  */
object PyFloat {
  def repr(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "nan"
    if (d == Double.PositiveInfinity) return "inf"
    if (d == Double.NegativeInfinity) return "-inf"
    val neg = d < 0 || (d == 0.0 && 1.0 / d < 0)
    val a = math.abs(d)
    if (a == 0.0) return if (neg) "-0.0" else "0.0"
    // normalize Java's repr to (significant digits, point position)
    val s = java.lang.Double.toString(a)
    val (mant, exp) = s.indexOf('E') match {
      case -1 => (s, 0)
      case i => (s.substring(0, i), s.substring(i + 1).toInt)
    }
    val dot = mant.indexOf('.')
    var digits = mant.substring(0, dot) + mant.substring(dot + 1)
    var pointPos = dot + exp // decimal point sits after this many digits
    val firstNz = digits.indexWhere(_ != '0')
    digits = digits.substring(firstNz)
    pointPos -= firstNz
    digits = digits.substring(0, digits.lastIndexWhere(_ != '0') + 1)
    val x = pointPos - 1 // exponent of the leading digit
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (x >= -4 && x < 16) {
      // fixed notation, always with a fractional part (1.0, 100.0)
      if (pointPos <= 0)
        sb.append("0.").append("0" * -pointPos).append(digits)
      else if (pointPos >= digits.length)
        sb.append(digits).append("0" * (pointPos - digits.length)).append(".0")
      else
        sb.append(digits.substring(0, pointPos)).append('.')
          .append(digits.substring(pointPos))
    } else {
      // scientific: bare leading digit, e±XX with 2-digit minimum
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e').append(if (x < 0) '-' else '+')
      val ax = math.abs(x)
      if (ax < 10) sb.append('0')
      sb.append(ax)
    }
    sb.toString
  }
}
