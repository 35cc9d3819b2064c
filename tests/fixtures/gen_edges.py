"""Writes ``graph-edges/00.txt`` … ``04.txt``: a seeded tab-separated
edge list over vertices 0..499, the shape of the reference's
``graph-edges-medium`` at a tenth of its size. Vertex 0 always has an
edge, so the degree output starts at vertex 0.

    python tests/fixtures/gen_edges.py
"""

from __future__ import annotations

import os
import random

SEED = 20_240_501
N_VERTICES = 500
N_FILES = 5
EDGES_PER_FILE = 250


def main() -> None:
    rng = random.Random(SEED)
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "graph-edges")
    os.makedirs(out, exist_ok=True)
    for f in range(N_FILES):
        edges = [(rng.randrange(N_VERTICES), rng.randrange(N_VERTICES)) for _ in range(EDGES_PER_FILE)]
        if f == 0:
            edges[0] = (0, edges[0][1])
        with open(os.path.join(out, f"{f:02d}.txt"), "w", newline="\n") as fh:
            fh.writelines(f"{s}\t{d}\n" for s, d in edges)


if __name__ == "__main__":
    main()
