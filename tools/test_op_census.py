#!/usr/bin/env python3
"""Self-test of tools/op_census.py: each FAIL kind on a small synthetic tree.

Run from the repo root (stdlib only, well under a second):

    python3 tools/test_op_census.py

Every test writes a few Scala files into a temporary directory laid out like
the repo (src/main/scala/graft/<package>, src/test/scala), runs the census's
`--check` there and reads its FAIL lines.
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import op_census  # noqa: E402

LIB = """\
package graft.ops

object Lib {
  def twoValued(x: Int, k: Int = 1): Int = x + k
  def oneValued(x: Int, k: Int = 1): Int = x + k
  def specOnly(x: Int, k: Int = 1): Int = x + k
  def nobodySets(x: Int, k: Int = 1): Int = x + k
  def helper(x: Int, k: Int = 2): Int = x * k
  def tagged(x: Int, tag: String = "zz"): Int = x + tag.length
  def pinned(x: Int, seed: Long = 1L): Long = x + seed
  def guarded(x: Int, maxBroadcastRows: Long = 1L): Long = x
  def uncalled(x: Int): Int = x
  private def unreached(x: Int): Int = x
  private[graft] def hook(x: Int): Int = x
}

object Forward {
  def forwarding(x: Int, k: Int = 1): Int = Lib.helper(x, k)
}
"""

QUERIES = """\
package graft

import graft.ops.Lib

object Queries {
  val all = Seq(
    Lib.twoValued(1, 2), Lib.twoValued(1, k = 3),
    Lib.oneValued(1, 5), Lib.oneValued(2, k = 5),
    Lib.specOnly(1),
    Lib.nobodySets(1),
    graft.ops.Forward.forwarding(1, 2), graft.ops.Forward.forwarding(1, 3),
    Lib.tagged(1, "e1"), Lib.tagged(2, tag = "q2"),
    Lib.guarded(1))
}
"""

BENCH = """\
package graft

object Bench {
  val seeded = graft.ops.Lib.pinned(1, seed = 42L)
}
"""

SPEC = """\
package graft

class LibSpec {
  val a = graft.ops.Lib.specOnly(1, k = 7)
  val b = graft.ops.Lib.hook(1)
  val c = graft.ops.Lib.uncalled(1)
}
"""


def run_check(spec_hooks, guards=None):
    """FAIL lines and exit code of `--check` over the synthetic tree."""
    files = {
        "src/main/scala/graft/ops/Lib.scala": LIB,
        "src/main/scala/graft/Queries.scala": QUERIES,
        "src/main/scala/graft/Bench.scala": BENCH,
        "src/test/scala/graft/LibSpec.scala": SPEC,
    }
    old_cwd, old_hooks, old_guards = os.getcwd(), op_census.SPEC_HOOKS, op_census.GUARDS
    with tempfile.TemporaryDirectory() as root:
        for rel, text in files.items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
        out = io.StringIO()
        try:
            os.chdir(root)
            op_census.SPEC_HOOKS = spec_hooks
            op_census.GUARDS = old_guards if guards is None else guards
            with contextlib.redirect_stdout(out):
                code = op_census.main(["--check"])
        finally:
            os.chdir(old_cwd)
            op_census.SPEC_HOOKS = old_hooks
            op_census.GUARDS = old_guards
    return code, [l for l in out.getvalue().splitlines() if l.startswith("FAIL")]


class CensusCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.code, cls.fails = run_check({"Lib.hook": "Lib.twoValued",
                                         "Lib.gone": "Lib.twoValued"})

    def fails_for(self, name):
        return [l for l in self.fails if f" {name} " in l or f" {name}." in l]

    def test_exit_code(self):
        self.assertEqual(self.code, 1)

    def test_one_main_value_fails(self):
        self.assertTrue(any("Lib.oneValued.k" in l and "has one main value: 5" in l
                            for l in self.fails), self.fails)

    def test_option_set_only_by_specs_fails(self):
        # main calls leave it out, so its one main value is the default
        self.assertTrue(any("Lib.specOnly.k" in l and "has one main value: 1" in l
                            for l in self.fails), self.fails)

    def test_option_set_by_nobody_fails(self):
        self.assertTrue(any("Lib.nobodySets.k" in l and "is set by nobody" in l
                            for l in self.fails), self.fails)

    def test_uncalled_and_unreached_defs_fail(self):
        self.assertTrue(any("public Lib.uncalled" in l and "no caller outside" in l
                            for l in self.fails), self.fails)
        self.assertTrue(any("Lib.unreached" in l and "reached by no main code" in l
                            for l in self.fails), self.fails)

    def test_stale_spec_hook_fails_and_a_live_one_passes(self):
        self.assertTrue(any("SPEC_HOOKS entry Lib.gone names no member def" in l
                            for l in self.fails), self.fails)
        self.assertFalse(any("Lib.hook" in l for l in self.fails), self.fails)

    def test_what_does_not_fail(self):
        for name in ("Lib.twoValued", "Forward.forwarding", "Lib.helper",
                     "Lib.tagged", "Lib.pinned", "Lib.guarded"):
            self.assertEqual(self.fails_for(name), [], name)

    def test_reached_spec_hook_is_stale(self):
        code, fails = run_check({"Lib.twoValued": "Lib.oneValued"})
        self.assertEqual(code, 1)
        self.assertTrue(any("SPEC_HOOKS entry Lib.twoValued is reached" in l
                            for l in fails), fails)

    def test_stale_guard_fails(self):
        code, fails = run_check({}, guards={"maxBroadcastRows", "materialize"})
        self.assertEqual(code, 1)
        self.assertTrue(any("GUARDS entry materialize names no defaulted parameter"
                            in l for l in fails), fails)
        self.assertFalse(any("GUARDS entry maxBroadcastRows" in l for l in fails), fails)


if __name__ == "__main__":
    unittest.main()
