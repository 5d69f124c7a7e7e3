#!/usr/bin/env python3
"""Self-test of tools/test_only_defs.py on a tiny fixture tree.

Usage: python3 tools/test_test_only_defs.py

Writes a main and a test source tree under a temp dir, runs the tool on the
main tree only (as it is run on the repo: program dirs, no test dirs) and
checks five rules:
  - a def named only under the test dir is listed;
  - a helper called only by a listed def is listed;
  - a name that appears only in a comment does not count as a use;
  - an object that holds `main` is never listed;
  - a class and its companion object, named only by each other and by
    tests, are listed, but not a class whose companion holds `main`
    (their own tree, so the totals above stay apart).
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

TOOL = Path(__file__).resolve().parent / "test_only_defs.py"

MAIN = {
    "Lib.scala": """\
package demo

object Lib {
  def used(x: Int): Int = x + 1

  // the helper comes first, so one pass over the defs cannot list it
  private def helper(x: Int): Int = x - 1

  def onlyTested(x: Int): Int =
    helper(x) * 2

  /** Named by the app only inside comments. */
  def commented: Int = 3
}
""",
    "App.scala": """\
package demo

/** Calls [[Lib.commented]] only in this scaladoc. */
object App {
  def main(args: Array[String]): Unit = {
    // Lib.commented is not called here either
    println(Lib.used(1)) /* nor here: Lib.commented */
  }
}
""",
}

TEST = {
    "LibSpec.scala": """\
package demo

class LibSpec {
  assert(Lib.onlyTested(2) == 2)
  assert(Lib.commented == 3)
}
""",
}


COMPANION_MAIN = {
    "Foo.scala": """\
package demo

class Foo(val n: Int)

object Foo {
  def make(n: Int): Foo = new Foo(n)
}
""",
    "Bar.scala": """\
package demo

class Bar

object Bar {
  def main(args: Array[String]): Unit = println(new Bar)
}
""",
}

COMPANION_TEST = {
    "FooSpec.scala": """\
package demo

class FooSpec {
  assert(Foo.make(1).n == 1)
}
""",
}


def write(root, files):
    root.mkdir(parents=True)
    for name, text in files.items():
        (root / name).write_text(text, encoding="utf-8")


def run_tool(main_files, test_files):
    """The tool's output on the main tree, and the set of names it lists."""
    with tempfile.TemporaryDirectory() as tmp:
        main, test = Path(tmp) / "main", Path(tmp) / "test"
        write(main, main_files)
        write(test, test_files)
        out = subprocess.run([sys.executable, str(TOOL), str(main)],
                             capture_output=True, text=True, check=True).stdout
    listed = set()
    for line in out.splitlines():
        if ": " in line and "named by no program code: " in line:
            listed.update(line.split("named by no program code: ", 1)[1].split(", "))
    return out, listed


class TestOnlyDefsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.out, cls.listed = run_tool(MAIN, TEST)

    def test_def_named_only_under_test_dir_is_listed(self):
        self.assertIn("onlyTested", self.listed, self.out)

    def test_helper_of_listed_def_is_listed(self):
        self.assertIn("helper", self.listed, self.out)

    def test_comment_is_not_a_use(self):
        self.assertIn("commented", self.listed, self.out)

    def test_object_with_main_is_never_listed(self):
        self.assertNotIn("App", self.listed, self.out)
        self.assertNotIn("main", self.listed, self.out)

    def test_def_used_by_program_code_is_not_listed(self):
        self.assertNotIn("used", self.listed, self.out)
        self.assertNotIn("Lib", self.listed, self.out)
        self.assertIn("total: 3 of ", self.out)

    def test_companions_share_their_uses(self):
        out, listed = run_tool(COMPANION_MAIN, COMPANION_TEST)
        self.assertIn("Foo", listed, out)
        self.assertIn("make", listed, out)
        self.assertNotIn("Bar", listed, out)  # its entry point names it
        self.assertIn("total: 3 of 4 ", out)


if __name__ == "__main__":
    unittest.main()
