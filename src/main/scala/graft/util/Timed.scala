package graft.util

/** Env-gated wall-clock probe: when `envVar` is "1", every block run
  * through it prints `[tag] label: N.NN s` to stdout; otherwise the block
  * just runs. The variable is read once, when the probe is created.
  */
final class Timed(tag: String, envVar: String) {
  private val on = sys.env.get(envVar).contains("1")

  def apply[A](label: String)(a: => A): A =
    if (!on) a
    else {
      val t0 = System.nanoTime()
      val r = a
      println(f"[$tag] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
}
