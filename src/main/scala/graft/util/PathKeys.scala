package graft.util

/** Shared path→identifier sanitizer for staging dirs and catalog table
  * names. Lossy character replacement alone can collide (sf0.01 vs sf0_01),
  * so the full path's hash is appended — two distinct input dirs can never
  * share a staging path or bucket table. */
object PathKeys {
  def safe(dir: String): String = {
    val cleaned = dir.replaceAll("[^A-Za-z0-9]", "_")
    f"${cleaned}_${dir.hashCode & 0xffffffffL}%08x"
  }
}
