"""An injected wrong result must fail its statement's check."""

import duckdb
import pytest

import data
import harness
from check import Stmt, compare_rows


class _FakeWorkload(harness.Workload):
    """Returns the rows it is told to, instead of running a program."""

    def __init__(self, answers):
        super().__init__(env=None)
        self.answers = answers

    def execute(self, st):
        answer = self.answers[st.text]
        if isinstance(answer, Exception):
            raise answer
        return answer, {}


def test_loop_counts_wrong_result_and_error_as_failed():
    stmts = [Stmt("ok", "q1", False, [(1, 2.0)]),
             Stmt("wrong", "q2", False, [(1, 2.0)]),
             Stmt("raises", "q3", True, [(1,)])]
    wl = _FakeWorkload({"q1": [(1, 2.0 + 1e-12)], "q2": [(1, 2.5)],
                        "q3": RuntimeError("boom")})
    results = harness.run_loop(wl, stmts, cap_s=60)
    assert [r.error is None for r in results] == [True, False, False]
    assert results[1].error.startswith("wrong result")
    assert "RuntimeError: boom" in results[2].error


def test_statements_past_the_time_cap_count_as_failed():
    import run

    stmts = [Stmt("ok", f"q{i}", False, [(i,)]) for i in range(3)]
    wl = _FakeWorkload({f"q{i}": [(i,)] for i in range(3)})
    full = run.Pass(stmts, harness.run_loop(wl, stmts, cap_s=60), 0.0, 0.0,
                    {})
    cut = run.Pass(stmts, harness.run_loop(wl, stmts, cap_s=-1), 0.0, 0.0,
                   {})
    assert len(cut.results) == 0
    assert run.tally([full]) == (3, 0)
    assert run.tally([full, cut]) == (6, 3)


def test_compare_rows_multiset_and_order():
    assert compare_rows([(2, "b"), (1, "a")], [(1, "a"), (2, "b")]) is None
    assert compare_rows([(2, "b"), (1, "a")], [(1, "a"), (2, "b")],
                        ordered=True) is not None
    assert compare_rows([(1, "a")], [(1, "a"), (1, "a")]) is not None
    assert compare_rows([(None, 1.0)], [(0.0, 1.0)]) is not None


def test_dates_compare_with_their_json_encoding():
    import datetime
    assert compare_rows([("1995-03-01",)],
                        [(datetime.date(1995, 3, 1),)]) is None


def test_qdq_check_catches_a_row_outside_the_rule():
    from wl_rest import QDQ_LIMIT, _qdq_check

    con = duckdb.connect()
    con.execute("CREATE TABLE orders_v AS SELECT range AS o_orderkey, "
                "range * 1.5 AS o_totalprice FROM range(200)")
    chk = _qdq_check(con, "o_totalprice > 150")
    good = con.execute("SELECT * FROM orders_v WHERE o_totalprice > 150 "
                       f"LIMIT {QDQ_LIMIT}").fetchall()
    assert chk(good) is None
    bad = good[:-1] + [(3, 4.5)]
    assert chk(bad) is not None
    assert chk(good[:-1]) is not None          # too few rows
    tampered = good[:-1] + [(good[-1][0], good[-1][1] + 1)]
    assert chk(tampered) is not None           # right key, wrong value
    con.close()


@pytest.mark.parametrize("op", ["quality", "fingerprint", "pii_redact",
                                "exact_dedup", "lang_id"])
def test_pipeline_invariants_catch_injected_errors(op):
    from wl_rest import _pipeline_check

    docs = data.documents(3, 60)
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    chk = _pipeline_check(op, docs)
    if op == "exact_dedup":
        groups = {}
        for i, t in zip(ids, texts):
            groups.setdefault(t, []).append(i)
        good = [(g[0], len(g)) for g in groups.values()]
        bad = good + [(999, 1)]
    elif op == "quality":
        n_chars = docs.column("n_chars").to_pylist()
        good = [(i, n, 0.5) for i, n in zip(ids, n_chars)]
        bad = good[:-1] + [(ids[-1], n_chars[-1], 1.5)]
    elif op == "fingerprint":
        good = [(i, hash(t)) for i, t in zip(ids, texts)]
        bad = good[:-1] + [(ids[-1], "collides")] + [(ids[0], "collides")]
        bad = bad[1:]
    elif op == "pii_redact":
        good = [(i, t.replace("@example.com", "")) for i, t in zip(ids, texts)]
        leak = next(k for k, t in enumerate(texts) if "@example.com" in t)
        bad = list(good)
        bad[leak] = (ids[leak], texts[leak])
    else:
        good = [(i, "en") for i in ids]
        bad = good[:-1]
    assert chk(good) is None
    assert chk(bad) is not None
