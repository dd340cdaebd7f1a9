package graft.ops

/** Parsing for the one remaining SPARK_GRAFT_* boolean escape hatch,
  * `SPARK_GRAFT_NO_KERNEL_BARRIER` (Dedup's noPushdown barrier, kept
  * until d3's sf10 re-check settles whether d3 keeps the barrier).
  * Set-and-not-"0"/"false" means ON, so both `FLAG=1` and bare `FLAG=x`
  * spellings work and `FLAG=0` reliably turns the hatch OFF. */
object Flags {
  /** System property of the same name wins over the environment so
    * in-process specs can flip the hatch (env is immutable per JVM). */
  def on(name: String): Boolean =
    sys.props.get(name).orElse(sys.env.get(name))
      .exists(v => v != "0" && v != "false")
}
