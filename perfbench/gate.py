"""The warehouse correctness gate: each query result the harness wrote
must hash-match its DuckDB oracle over the same input tables.

The comparison is the repository's own oracle check, `tools/check.py`,
run over the harness's output directory; this module only turns its
per-query PASS/FAIL lines into results. One thing is added: check.py's
`canon` is memoized per (type, value). canon is a pure function of
both, so every string is the one check.py would make; the cache only
skips repeats. It matters for x12_date_arith, whose 150,000 rows carry
three timestamp columns with a few thousand distinct values: str() of a
pandas Timestamp costs about 10 us, and the plain check took 8.5 s of
the gate's 9.9 s on a 4-vCPU VM, against 1.7 s in all with the cache.
"""
import contextlib
import importlib.util
import io
import os

CHECK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "check.py")


def _memoized(canon):
    seen = {}

    def cached(v):
        try:
            key = (type(v), v)
            return seen[key]
        except KeyError:
            s = seen[key] = canon(v)
            return s
        except TypeError:  # unhashable: arrays and lists
            return canon(v)
    return cached


def check(data_dir, out_dir):
    """Returns a list of (query, ok, detail), one per oracle."""
    spec = importlib.util.spec_from_file_location("graft_check", CHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.canon = _memoized(mod.canon)
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        mod.main(data_dir, out_dir)
    out = []
    for line in log.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict == "PASS":
            out.append((rest.split(" ")[0], True, ""))
        elif verdict == "FAIL":
            name, _, detail = rest.partition(": ")
            out.append((name, False, detail))
    return out
