"""Unit tests for tools/pairs.py.

    python3 tools/test_pairs.py
"""

import os
import subprocess
import tempfile
import unittest

from pairs import unpack_parent, ROOT


class UnpackParent(unittest.TestCase):
    def test_replaces_the_tmp_dir_an_interrupted_unpack_left(self):
        sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, check=True,
                             capture_output=True, text=True).stdout.strip()
        with tempfile.TemporaryDirectory() as workdir:
            stale = os.path.join(workdir, f"parent-{sha}.tmp")
            os.makedirs(stale)
            open(os.path.join(stale, "leftover"), "w").close()
            dest = unpack_parent("HEAD", workdir)
            self.assertTrue(os.path.isfile(os.path.join(dest, "build.sbt")))
            self.assertFalse(os.path.exists(os.path.join(dest, "leftover")))
            self.assertFalse(os.path.exists(stale))


if __name__ == "__main__":
    unittest.main()
