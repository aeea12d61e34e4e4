"""Registry checks judge every measured op on its own output."""

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.workloads import Op, RegistryWorkload

ORACLE = "SELECT o_orderkey, o_totalprice * 2 AS doubled FROM orders WHERE o_orderkey < 3"


def _workload(tmp_path):
    wl = RegistryWorkload(str(tmp_path), 0, 1, None)
    os.makedirs(wl.dir)
    os.makedirs(wl.out)
    pq.write_table(
        pa.table({"o_orderkey": [0, 1, 2, 3], "o_totalprice": [1.5, 2.5, 3.5, 4.5]}),
        os.path.join(wl.dir, "orders.parquet"),
    )
    wl.KEYS = {"k": ("orders",)}
    wl.specs = {"k": SimpleNamespace(oracle=ORACLE)}
    return wl


def _result(doubled):
    # the engine's row order and column order need not match the oracle's
    return pa.table({"doubled": doubled, "o_orderkey": [2, 0, 1][: len(doubled)]})


def test_each_measured_output_gets_its_own_verdict(tmp_path):
    wl = _workload(tmp_path)
    wl.warm["k"] = wl._save("warm-k", _result([7.0, 3.0, 5.0]))
    op = Op("k", lambda: None, 0)
    wl.after_op(op, _result([7.0, 3.0, 5.0]))
    wl.after_op(op, _result([7.0, 3.0, 5.5]))  # wrong value on a repeated call
    wl.after_op(op, None)  # the op raised
    wl.after_op(op, _result([7.0, 3.0]))  # a row missing
    wl.after_op(op, _result([7.0, 3.0, 5.0]))
    per_op, extra = wl.check(corrupt=False)
    assert per_op == [True, False, False, False, True]
    assert extra == {"warmup:k": True}


def test_corrupted_expected_digest_fails_every_output(tmp_path):
    wl = _workload(tmp_path)
    wl.warm["k"] = wl._save("warm-k", _result([7.0, 3.0, 5.0]))
    wl.after_op(Op("k", lambda: None, 0), _result([7.0, 3.0, 5.0]))
    per_op, extra = wl.check(corrupt=True)
    assert per_op == [False]
    assert extra == {"warmup:k": False}
