package graft

/** Locale-safe JSON numeral formatting, shared by every tool that
  * emits a JSON artifact (Bench, Profile): the f
  * interpolator and bare String.format use the JVM default locale, and
  * a comma decimal separator corrupts the artifact. ONE definition so
  * the next JSON-emitting tool cannot forget the fix. */
object JsonNum {
  def num(fmt: String, x: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(x))
}
