package graft.functions

import org.apache.spark.sql.internal.SQLConf

/** Guard for kernels whose output is pinned bit-for-bit to a declarative
  * spelling evaluated under non-ANSI semantics: saturating double→long
  * casts and `size(null) = -1` (legacy sizeOfNull). Under ANSI those
  * spellings raise or return null, so such a kernel would silently
  * disagree with its twin and its oracle; building it fails instead.
  */
private[functions] object LegacySemantics {
  def check(kernel: String): Unit = {
    val c = SQLConf.get
    if (c.ansiEnabled || !c.legacySizeOfNull)
      throw new IllegalStateException(
        s"$kernel assumes non-ANSI casts and legacy sizeOfNull, but this " +
          s"session has spark.sql.ansi.enabled=${c.ansiEnabled} and " +
          s"legacy sizeOfNull=${c.legacySizeOfNull}; set " +
          "spark.sql.ansi.enabled=false and spark.sql.legacy.sizeOfNull=true")
  }
}
