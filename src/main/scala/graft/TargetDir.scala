package graft

import java.nio.file.Paths

/** Where mains and query keys put their scratch output and write-once
 * spools: `target/<name>` under the working directory (the checkout root
 * under sbt's forked runs), as an absolute path. Never a fixed absolute
 * location, so two checkouts never write into each other's tree. */
object TargetDir {
  def apply(name: String): String =
    Paths.get("target", name).toAbsolutePath.toString
}
