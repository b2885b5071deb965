package graft

/** Numeric engine knobs (conf keys, environment variables), parsed where
  * they are read: a value that is not an integer >= `min` fails right
  * there, with an IllegalArgumentException naming its key. */
object Knob {
  def long(key: String, raw: String, min: Long): Long =
    raw.toLongOption.filter(_ >= min).getOrElse(bad(key, raw, min))
  def int(key: String, raw: String, min: Int): Int =
    raw.toIntOption.filter(_ >= min).getOrElse(bad(key, raw, min))
  private def bad(key: String, raw: String, min: Long): Nothing =
    throw new IllegalArgumentException(s"$key must be an integer >= $min, got '$raw'")
}
