"""dist/crawler.zip freshness: the committed --py-files artifact must
carry every current package module with identical bytes (round 5
shipped a zip missing sitemap.py/warc.py — this lock prevents a
repeat), and nothing the package tree no longer has (a deleted module
must not keep shipping to executors)."""

from __future__ import annotations

import os
import zipfile

from jobs.package import PKG, REPO


def test_committed_zip_matches_package_tree():
    zp = os.path.join(REPO, "dist", "crawler.zip")
    assert os.path.exists(zp), "dist/crawler.zip missing — run jobs/package.py"
    z = zipfile.ZipFile(zp)
    zipped = {n: z.read(n) for n in z.namelist()}
    tree = set()
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, REPO)
                tree.add(rel)
                assert rel in zipped, f"{rel} missing from crawler.zip — rerun jobs/package.py"
                with open(p, "rb") as fh:
                    assert fh.read() == zipped[rel], f"{rel} stale in crawler.zip — rerun jobs/package.py"
    for rel in zipped:
        if rel.startswith(PKG + "/") and rel.endswith((".py", ".json")):
            assert rel in tree, f"{rel} gone from the tree, still in crawler.zip — rerun jobs/package.py"
