package graft.spatial

import java.io.File
import org.scalatest.Assertions

/** Where the reference-fixture specs read their inputs: the six geometry
  * classes in three encodings each (`data-<cls>-wkt.csv`,
  * `data-<cls>-encoding_wkb.parquet`, `data-<cls>-encoding_native.parquet`,
  * FIXTURES.md §1).
  *
  * `vendored` is the committed copy under `src/test/resources`, rebuilt by
  * `tools/gen_reference_fixtures.py`. `reference` is the reference
  * checkout's own `data/` directory, when one is present:
  * `$GRAFT_REFERENCE_DATA` if set, else a `reference` checkout next to this
  * repo. The specs run their assertions over both ([[foreachDir]]), so the
  * reference's files are still exercised wherever they are present. */
object ReferenceFixtures {

  val vendored: String =
    new File(getClass.getResource("/graft/reference_data").toURI).getPath

  val reference: Option[String] =
    Some(new File(sys.env.getOrElse("GRAFT_REFERENCE_DATA", "../reference/data")))
      .filter(_.isDirectory).map(_.getCanonicalPath)

  /** Run `body` once per fixture directory; a failure names the directory. */
  def foreachDir(body: String => Unit): Unit =
    (vendored +: reference.toSeq).foreach { d =>
      Assertions.withClue(s"[fixtures: $d] ")(body(d))
    }
}
