package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** Files from the reference's own checkout of nomenklatura v4.13.0
  * that the parity tests read: the donations fixture, the enricher
  * configs, the entity_bench corpus, the frozen name-bench run and the
  * OFAC captures. A test that reads one goes through here, so where the
  * checkout is absent it is reported canceled, naming the missing file,
  * and where it is present it runs unchanged. Call it lazily (inside
  * the test body, or from a `lazy val`) so the cancel lands in the test
  * that needs the file and never aborts the suite's construction.
  */
object ReferenceFiles {
  private val Root = "/root/reference"

  /** `Root/rel`, once it is readable. */
  def apply(rel: String): String = readable(s"$Root/$rel")

  /** `path`, once it is readable; cancels the calling test otherwise. */
  def readable(path: String): String = {
    Assertions.assume(Files.isReadable(Paths.get(path)),
      s"reference file $path is not readable")
    path
  }
}
