"""Output checks fail on a deliberately wrong expectation, and a failed
check makes the run incorrect."""

import io

import pandas as pd

from perfbench import analytics, lake, model
from perfbench.harness import Op, Run


def _run():
    return Run(1, False, "/nonexistent", io.StringIO())


def test_model_diff_catches_one_wrong_cent():
    _, claims = lake.generate(4, 100, 500)
    got = model.from_arrow(claims)
    exp = got.sample(frac=1.0, random_state=0).reset_index(drop=True)
    assert model.diff(got, exp, "claim_id") is None
    wrong = exp.copy()
    wrong.loc[3, "amount"] += 1
    msg = model.diff(got, wrong, "claim_id")
    assert msg is not None and msg.startswith("amount")
    assert "rows" in model.diff(got, exp.iloc[1:], "claim_id")


def test_failed_check_counts_and_makes_run_incorrect():
    run = _run()
    run.ops.append(Op("1:insert", "insert", "write", 5.0, True))
    run.check("claims contents", True)
    assert run.counts() == (2, 0)
    run.check("claims contents", False, "amount differs")
    attempted, failed = run.counts()
    assert (attempted, failed) == (3, 1)
    assert run.check_failures == ["claims contents: amount differs"]


def test_oracle_canon_rejects_a_wrong_value():
    canon = analytics.oracle_canon()
    got = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert canon(got) == canon(got.iloc[::-1])
    assert canon(got) != canon(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))


def test_expected_denial_counts_only_when_raised():
    class FakeSpark:
        class sparkContext:  # noqa: N801
            @staticmethod
            def setJobGroup(group, desc):
                pass

    run = _run()
    run.spark = FakeSpark()

    def deny():
        raise PermissionError("denied")
    run.op("denied", "read", build=deny, expect=PermissionError)
    run.op("not_denied", "read", build=lambda: 1, expect=PermissionError)
    run.op("broken", "read", build=deny)
    assert [o.ok for o in run.ops] == [True, False, False]
