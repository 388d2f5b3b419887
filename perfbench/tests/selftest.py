"""Self-test of the benchmark (generator determinism, correctness gate).

    python3 perfbench/tests/selftest.py

Builds like run.py does and runs graftbench.SelfTest in a temporary
directory under the build dir; exits non-zero if any check fails.
"""

import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


def main() -> int:
    classes = build.build()
    work = build.build_dir() / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return subprocess.run(build.java_cmd(classes, "graftbench.SelfTest", [work], work / "tmp"),
                              stderr=subprocess.DEVNULL, timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
