"""The build cache keeps its own copy of the classes it was built from."""
import os
import sys
import tempfile
import unittest
import zipfile
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


def write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(data)


class FreezeTest(unittest.TestCase):
    def test_class_directories_are_frozen_and_outside_jars_kept(self):
        with tempfile.TemporaryDirectory() as d:
            root = os.path.join(d, "checkout")
            classes = os.path.join(root, "target", "classes")
            write(os.path.join(classes, "pkg", "A.class"), "v1")
            outside = os.path.join(d, "spark.jar")
            write(outside, "jar")
            built = os.path.join(root, "target", "launch.txt")
            write(built, f"{classes}{os.pathsep}{outside}\n-Xmx2g\n")
            cache = os.path.join(root, ".perfbench", "build", "key")
            with mock.patch.object(run, "ROOT", root):
                run.freeze(built, cache)
            cp, opts = run.read_launch(os.path.join(cache, "launch.txt"))
            frozen, kept = cp.split(os.pathsep)
            self.assertEqual(os.path.dirname(frozen), cache)
            self.assertEqual(kept, outside)
            self.assertEqual(opts, ["-Xmx2g"])
            # a later build of other sources rewrites the class directory;
            # the cached classpath still runs the classes it was built from
            write(os.path.join(classes, "pkg", "A.class"), "v2")
            with zipfile.ZipFile(frozen) as z:
                self.assertEqual(z.read("pkg/A.class"), b"v1")


if __name__ == "__main__":
    unittest.main()
