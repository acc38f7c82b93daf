"""Generator self-check: the same seed writes byte-identical inputs, a
different seed writes different ones. Needs no Spark session.

    python3 perfbench/selfcheck.py

Exits non-zero and names the generator when either property fails.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402


def digest(root: str) -> str:
    """Hash of every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generators():
    ann = workloads.AnnServe

    def ann_inputs(root, seed):
        v = gen.vectors(root, seed, ann.N_BASE, ann.DIM)
        ids, x = gen.query_batch(v, 0, ann.QUERIES)
        gen.write_parquet(gen.vec_table(ids, x, ids), os.path.join(root, "q", "q.parquet"))
        appended, _ = gen.append_batch(v, 10**9, ann.APPEND)
        gen.write_parquet(appended, os.path.join(root, "a.parquet"))

    batch = workloads.NightlyBatch
    return {
        "soccer_tree": lambda root, seed: gen.soccer_tree(root, seed, **batch.SOCCER),
        "star_tables": lambda root, seed: gen.star_tables(root, seed, batch.N_ORDERS),
        "corpus": lambda root, seed: gen.corpus(root, seed, batch.N_DOCS),
        "vectors": ann_inputs,
    }


def main() -> int:
    tmp = os.path.join(os.path.dirname(HERE), ".perfbench_tmp", f"selfcheck-{os.getpid()}")
    failures = []
    try:
        for name, make in generators().items():
            d = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                root = os.path.join(tmp, name, tag)
                make(root, seed)
                d[tag] = digest(root)
            same, differ = d["a"] == d["b"], d["a"] != d["c"]
            print(f"{name}: same seed identical={same}, other seed differs={differ}")
            if not (same and differ):
                failures.append(name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    if failures:
        print(f"selfcheck FAILED: {failures}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
