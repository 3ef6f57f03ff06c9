package perfbench

/** Test output stays under the build's own target directory. */
object Scratch {
  lazy val dir: java.nio.file.Path =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "test-work"))
}
