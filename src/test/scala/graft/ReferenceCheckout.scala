package graft

import java.nio.file.{Files, Path, Paths}

import org.scalactic.source.Position
import org.scalatest.Assertions

/** The reference checkout some specs read verbatim (its example scripts,
  * SQLLogicTest files and test data), at `queries.Routing.ReferenceDir`.
  * It cannot be built from this repository, so where it is absent those
  * specs fail naming it, not with an NPE or a mislabelled error from deep
  * inside the run.
  */
object ReferenceCheckout {
  val dir: Path = Paths.get(graft.queries.Routing.ReferenceDir)

  /** `rel` inside the checkout; fails the calling test, at the call site,
    * when it is absent.
    */
  def require(rel: String)(implicit pos: Position): Path = {
    val p = dir.resolve(rel)
    if (!Files.exists(p)) Assertions.fail(s"reference checkout missing at $dir (needs $rel)")(pos)
    p
  }
}
