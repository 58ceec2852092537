package graft.store

import org.scalatest.Assertions

/** Two-writer races driven through the shared commit's `publish-staged`
  * failpoint ([[ManifestLog.onStep]]): the loser stages its first
  * commit, then the winner's complete operation runs inside the hook
  * (its own steps pass through), then the loser resumes into the
  * exists()-check and must error. Returns the loser's error.
  */
object Failpoint {
  def race(loser: => Any)(winner: => Any): Throwable = {
    var fired = false
    ManifestLog.onStep = s =>
      if (s == "publish-staged" && !fired) { fired = true; winner }
    try Assertions.intercept[RuntimeException](loser)
    finally ManifestLog.onStep = _ => ()
  }
}
