#!/usr/bin/env python3
"""Exact (atol=0) variant of the oracle compare — same CLI as oracle_check.py.

Thin wrapper so the compare logic lives in one place; any fix to
oracle_check.canon()/loading applies to both tolerance levels automatically.
Usage: python3 tools/exact_check.py <verify_out_dir> <sf_dir> [q1,q2,...]
"""
import sys, pathlib, importlib.util, unittest.mock
import pandas as pd

spec = importlib.util.spec_from_file_location(
    "oracle_check", pathlib.Path(__file__).parent / "oracle_check.py")
oc = importlib.util.module_from_spec(spec)
_orig = pd.testing.assert_frame_equal
def _exact(left, right, **kw):
    kw.update(check_exact=True)
    for k in ("rtol", "atol"):
        kw.pop(k, None)
    return _orig(left, right, **kw)
with unittest.mock.patch.object(pd.testing, "assert_frame_equal", _exact):
    spec.loader.exec_module(oc)   # module captures pd.testing at import? no — call main inside
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(oc.main(sys.argv[1], sys.argv[2], only))
