"""Seeded 2-D Gaussian-blob points for the `kmeans` workload, written as
the reference's `x,y` CSV split over several files (scenario 2). Every
RAGGED_EVERY-th row carries the ragged whitespace the reference data has
and `PointsSource` tolerates. The same seed gives byte-identical files.
"""
import json
import math
import os
import random

K = 8
FILES = 4
POINTS_PER_FILE = 50_000
SIGMA = 1.5
SPACING = 10.0
RAGGED = ("{x}, {y}", " {x},{y} ", "{x} ,  {y}")
RAGGED_EVERY = 97


def centres(seed):
    """K blob centres on a jittered ring, SPACING apart or more."""
    rnd = random.Random(f"centres-{seed}")
    radius = SPACING / (2 * math.sin(math.pi / K))
    phase = rnd.uniform(0, 2 * math.pi)
    return [(round(50 + radius * math.cos(phase + 2 * math.pi * i / K), 6),
             round(50 + radius * math.sin(phase + 2 * math.pi * i / K), 6))
            for i in range(K)]


def write(seed, out_dir):
    """Write the CSV files and `centres.json` into out_dir (cached: an
    existing complete set is reused). Returns (paths, centres)."""
    cs = centres(seed)
    paths = [os.path.join(out_dir, f"points-{i}.csv") for i in range(FILES)]
    meta = os.path.join(out_dir, "centres.json")
    if os.path.exists(meta):
        return paths, [tuple(c) for c in json.load(open(meta))]
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    n = 0
    for p in paths:
        lines = []
        for _ in range(POINTS_PER_FILE):
            cx, cy = cs[rnd.randrange(K)]
            x = f"{rnd.gauss(cx, SIGMA):.6f}"
            y = f"{rnd.gauss(cy, SIGMA):.6f}"
            fmt = RAGGED[n // RAGGED_EVERY % len(RAGGED)] if n % RAGGED_EVERY == 0 \
                else "{x},{y}"
            lines.append(fmt.format(x=x, y=y))
            n += 1
        with open(p + ".tmp", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(p + ".tmp", p)
    with open(meta + ".tmp", "w") as fh:
        json.dump(cs, fh)
    os.replace(meta + ".tmp", meta)
    return paths, cs
