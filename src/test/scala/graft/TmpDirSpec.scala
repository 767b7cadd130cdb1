package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** `Engine.deleteTree`, the one tree delete (`Engine.tmpDir`'s exit-time
  * hook and StagedCommit's staging delete): the whole tree goes, and
  * nothing a symlink inside it points at. */
class TmpDirSpec extends AnyFunSuite {
  test("tmpDir delete hook removes the tree but not a linked dir outside it") {
    val outside = Paths.get(Engine.tmpDir("hook-target"))
    val kept = Files.writeString(outside.resolve("kept.txt"), "keep")
    val tree = Paths.get(Engine.tmpDir("hook-tree"))
    Files.writeString(
      Files.createDirectories(tree.resolve("a/b")).resolve("f.txt"), "x")
    Files.createSymbolicLink(tree.resolve("a/link"), outside)
    Engine.deleteTree(tree)
    assert(!Files.exists(tree), s"$tree must be gone")
    assert(Files.isDirectory(outside) && Files.readString(kept) == "keep",
      "the link's target and its contents must survive")
    // StagedCommit clears a leftover staging with the same walk
    val staged = new graft.operators.StagedCommit(
      Engine.tmpDir("hook-staged"), "_staged", Nil)
    Files.createSymbolicLink(
      Files.createDirectories(staged.dir).resolve("link"), outside)
    staged.stage()
    assert(!Files.exists(staged.dir), s"${staged.dir} must be gone")
    assert(Files.isDirectory(outside) && Files.readString(kept) == "keep",
      "StagedCommit must delete the link, not the dir it points at")
  }
}
