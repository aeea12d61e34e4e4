"""Write one generated input set and print what was written as JSON.

    python3 perfbench/gen_main.py corpus OUT_DIR SEED
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def main(kind: str, out_dir: str, seed: int) -> dict:
    if kind == "corpus":
        c = gen.write_corpus(out_dir, seed)
        return {
            "rows": {"documents": c.n_docs, "embeddings": c.n_vectors},
            "planted_pairs": sorted(c.planted_pairs),
        }
    raise SystemExit(f"unknown input set {kind!r}")


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
