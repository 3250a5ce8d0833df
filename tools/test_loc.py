"""Tests for tools/loc.py: the counting rule and the --base delta.

Run from the repository root: python3 -m unittest tools/test_loc.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CountingRule(unittest.TestCase):

    def test_blank_and_comment_lines_do_not_count(self):
        text = "\n".join([
            "package a",
            "",
            "   ",
            "// a line comment",
            "  /** Scaladoc",
            "    * continued",
            "    */",
            "/* block */",
            "object A {",
            "  val x = 1 // trailing comment still counts",
            "}",
        ])
        self.assertEqual(loc.code_lines(text), 4)

    def test_empty_text(self):
        self.assertEqual(loc.code_lines(""), 0)


class Delta(unittest.TestCase):

    def git(self, *args):
        subprocess.run(["git", "-C", self.repo, "-c", "user.name=t",
                        "-c", "user.email=t@example.com", *args],
                       check=True, capture_output=True)

    def write(self, rel, text):
        p = os.path.join(self.repo, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write(text)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.repo = self.tmp.name
        self.git("init", "-q")
        self.write("src/main/a/Kept.scala", "object K {\n  val k = 1\n}\n")
        self.write("src/main/a/Shrunk.scala",
                   "object S {\n  val a = 1\n  val b = 2\n  val c = 3\n}\n")
        self.write("src/main/a/Gone.scala", "object G\n")
        self.write("src/test/T.scala", "object T\n")
        self.git("add", "-A")
        self.git("commit", "-q", "-m", "base")
        # after the base commit: one file shrinks, one comment is added,
        # one file is deleted and one added; src/test is outside ROOT
        self.write("src/main/a/Shrunk.scala",
                   "object S {\n  // only a comment now\n  val a = 1\n}\n")
        self.write("src/main/a/Kept.scala",
                   "/** doc */\nobject K {\n  val k = 1\n}\n")
        os.remove(os.path.join(self.repo, "src/main/a/Gone.scala"))
        self.write("src/main/b/New.scala", "object N {\n  val n = 0\n}\n")
        self.write("src/test/T.scala", "object T\nobject U\n")

    def tearDown(self):
        self.tmp.cleanup()

    def test_delta_per_changed_file(self):
        rows = loc.delta(self.repo, "src/main", "HEAD")
        self.assertEqual(rows, [
            (3, 0, 3, "b/New.scala"),
            (-2, 5, 3, "a/Shrunk.scala"),
            (-1, 1, 0, "a/Gone.scala"),
        ])

    def test_counts_at_revision_match_the_tree_rule(self):
        self.assertEqual(loc.count_rev(self.repo, "src/main", "HEAD"),
                         {"a/Kept.scala": 3, "a/Shrunk.scala": 5,
                          "a/Gone.scala": 1})
        self.assertEqual(sum(loc.count_tree(
            os.path.join(self.repo, "src/main")).values()), 9)


if __name__ == "__main__":
    unittest.main()
