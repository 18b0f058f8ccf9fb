"""Output checks. A query result is reduced to a digest of its canonical
form, which is `tools/check.py`'s own `canon` (columns sorted by name,
cells stringified, rows sorted), and compared with the digest pinned in
`digests.json`. The CSV K-Means fit is checked against the generator's
blob centres."""
import glob
import hashlib
import json
import math
import os
import sys
import warnings

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
CENTRE_TOL = 0.1

sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check import canon, cells_equal  # noqa: E402,F401  (tools/check.py)

# canon's DataFrame.applymap is deprecated in pandas 2.1+, not wrong
warnings.filterwarnings("ignore", "DataFrame.applymap", FutureWarning)


def digest(df):
    """sha256 over the header and rows of `df`'s canonical string form."""
    strf, _ = canon(df)
    h = hashlib.sha256("\t".join(strf.columns).encode())
    for row in strf.itertuples(index=False):
        h.update(b"\n" + "\t".join(row).encode())
    return h.hexdigest()


def result_frame(con, result_dir):
    """A Spark parquet output directory as a DataFrame."""
    files = sorted(glob.glob(os.path.join(result_dir, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet output in {result_dir}")
    return con.execute(
        f"SELECT * FROM read_parquet({files!r}, hive_partitioning=false)").fetchdf()


def check_results(work_dir, checked):
    """Failures among the ops whose results were written: a missing pin,
    a different digest, or an unreadable output. (An op whose result could
    not be written already failed in the harness.)"""
    pins = json.load(open(DIGESTS))
    con = duckdb.connect()
    failures = []
    for op in checked:
        try:
            df = result_frame(con, os.path.join(work_dir, "results", op))
            d, n = digest(df), len(df)
        except Exception as e:  # an unreadable result is a failed check
            failures.append({"name": op, "error": f"check: {type(e).__name__}: {e}"})
            continue
        pin = pins.get(op)
        if pin is None:
            failures.append({"name": op, "error": "check: no pinned digest"})
        elif pin["digest"] != d:
            failures.append({"name": op, "error":
                             f"check: digest {d[:12]} ({n} rows) != pinned "
                             f"{pin['digest'][:12]} ({pin['rows']} rows)"})
    return failures


def check_fit(fit, centres, n_points):
    """None if the fit converged over every point and its centroids pair
    one-to-one with the blob centres within CENTRE_TOL; else the reason."""
    if not fit["converged"]:
        return f"not converged after {fit['iterations']} iterations"
    if fit["points"] != n_points:
        return f"clustered {fit['points']} points, generated {n_points}"
    free = list(centres)
    for _, x, y in fit["centroids"]:
        j = min(range(len(free)), key=lambda i: (free[i][0] - x) ** 2 + (free[i][1] - y) ** 2)
        if math.dist(free[j], (x, y)) > CENTRE_TOL:
            return f"centroid ({x:.4f}, {y:.4f}) is {math.dist(free[j], (x, y)):.4f} from its blob"
        free.pop(j)
    return None
