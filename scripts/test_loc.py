"""Unit tests of loc's line counting, on strings and a temporary git tree.

Run from the repository root: python3 -m unittest scripts/test_loc.py
"""

import contextlib
import io
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_do_not_count(self):
        self.assertEqual(loc.code_lines("\n  \n// a\n   // b\nval x = 1\n"), 1)

    def test_scaladoc_and_nested_block_comments_do_not_count(self):
        src = ("/** doc\n  * /* nested */ still doc\n  */\n"
               "/* a /* b */ c\n d */\n"
               "object A\n")
        self.assertEqual(loc.code_lines(src), 1)

    def test_code_around_comments_counts(self):
        src = "val x = 1 // trailing\n/* lead */ val y = 2\nval z = /* mid */ 3\n"
        self.assertEqual(loc.code_lines(src), 3)

    def test_comment_markers_inside_strings_are_code(self):
        src = ('val a = "// not a comment"\n'
               'val b = "/* nor this"\n'
               'val c = 1\n'
               "val q = '\"'\n"
               'val e = "say \\"/*\\""\n'
               'val d = 2\n')
        self.assertEqual(loc.code_lines(src), 6)

    def test_triple_quoted_lines_are_code(self):
        # a blank line inside the string is still blank
        src = 'val s = """first\n\n// inside\n/* inside */\n"""\n// after\n'
        self.assertEqual(loc.code_lines(src), 4)

    def test_reflowed_comment_changes_nothing(self):
        before = "/** one long\n  * sentence */\ndef f = 1\n"
        after = "/** one\n  * long\n  * sentence */\n\ndef f = 1\n"
        self.assertEqual(loc.code_lines(before), loc.code_lines(after))

    def test_package_of_path(self):
        self.assertEqual(loc.package_of("src/main/scala/graft/api/S.scala"),
                         "graft.api")
        self.assertEqual(loc.package_of("src/main/scala/graft/Main.scala"),
                         "graft")


class TreeTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        self.git("init", "-q")
        self.write("src/main/scala/graft/a/A.scala",
                   "package graft.a\n\n/** doc */\nobject A {\n  val x = 1\n}\n")
        self.write("src/main/scala/graft/b/B.scala",
                   "package graft.b\nobject B\n")
        self.write("src/test/scala/graft/T.scala", "object T\n")
        self.write("src/main/resources/x.txt", "not scala\n")
        self.git("add", "-A")
        self.git("-c", "user.name=t", "-c", "user.email=t@example.com",
                 "commit", "-q", "-m", "base")

    def tearDown(self):
        self.tmp.cleanup()

    def git(self, *args):
        subprocess.run(["git", "-C", self.root] + list(args), check=True,
                       capture_output=True)

    def write(self, rel, text):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)

    def run_main(self, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            loc.main(["--root", self.root] + list(args))
        return out.getvalue().splitlines()

    def test_tree_counts_per_package(self):
        self.assertEqual(loc.tally(loc.tree_files(self.root)),
                         {"graft.a": 4, "graft.b": 2})
        self.assertEqual(self.run_main()[-1].split(), ["total", "6"])

    def test_against_ref_prints_delta(self):
        # A loses a code line, gains comments; B is deleted; C is new
        self.write("src/main/scala/graft/a/A.scala",
                   "package graft.a\n\n/** doc\n  * more doc */\n"
                   "object A { val x = 1 } // same code, one line\n")
        os.remove(os.path.join(self.root, "src/main/scala/graft/b/B.scala"))
        self.write("src/main/scala/graft/c/C.scala", "package graft.c\n")
        self.assertEqual(loc.tally(loc.ref_files(self.root, "HEAD")),
                         {"graft.a": 4, "graft.b": 2})
        rows = {r.split()[0]: r.split()[1:] for r in self.run_main("--against", "HEAD")}
        self.assertEqual(rows["graft.a"], ["4", "2", "-2"])
        self.assertEqual(rows["graft.b"], ["2", "0", "-2"])
        self.assertEqual(rows["graft.c"], ["0", "1", "+1"])
        self.assertEqual(rows["total"], ["6", "3", "-3"])


if __name__ == "__main__":
    unittest.main()
