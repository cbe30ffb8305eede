package graft

import java.nio.file.Files

/** Output locations for tests: a not-yet-existing path inside a fresh
  * directory under `java.io.tmpdir`, so repeated or concurrent suite runs
  * on one host never share or clobber each other's outputs. */
object TestDirs {
  def fresh(tag: String): String = Files.createTempDirectory(tag).resolve("out").toString
}
