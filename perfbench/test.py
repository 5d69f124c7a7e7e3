#!/usr/bin/env python3
"""The benchmark's own tests: python3 perfbench/test.py

Builds the program and runs graft.perfbench.SelfTest (generator
determinism, tally vs ForumAnalytics, span self-time reconciliation,
fingerprint invariance). Exits non-zero if any test fails.
"""
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

if __name__ == "__main__":
    build.build()
    work = build.BUILD / "work" / "selftest"
    data = build.ROOT / "perfbench" / "data" / "sf0.01"
    expected = build.ROOT / "perfbench" / "expected.tsv"
    sys.exit(subprocess.run(build.java_command("graft.perfbench.SelfTest", [data, expected], work),
                            cwd=work).returncode)
