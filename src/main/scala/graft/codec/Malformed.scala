package graft.codec

/** The one failure every decoder built on `graft.codec` throws for input
  * that breaks its format: truncated, corrupt, over a size cap, or
  * claiming more than its bytes can hold. Callers behind the codec seam
  * catch it into their format's invalid row. Stackless: a malformed
  * file is an expected outcome, not a bug. */
case object Malformed extends RuntimeException(null, null, false, false)
