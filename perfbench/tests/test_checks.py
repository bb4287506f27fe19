"""A wrong result, a raised error or a wrong store counts as a failure."""

from perfbench import gen
from perfbench.oracle import SearchOracle
from perfbench.trace import Tracer
from perfbench.workloads import Client

SPEC = gen.CorpusSpec(docs=300, vocab=2_000, mean_tokens=40)


def _top10(oracle, q):
    ranked = sorted(oracle.scores(q).items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return [(d, f"doc_{d}", s) for d, s in ranked]


def test_injected_wrong_result_raises_fail_ratio():
    ids, texts = gen.corpus(3, SPEC)
    oracle = SearchOracle(dict(zip(ids, texts)))
    q = gen.queries(3, SPEC, 4)[2]  # three terms, head and tail
    good = _top10(oracle, q)
    assert len(good) == 10
    client = Client(Tracer(enabled=False))
    client.request("search", lambda: good, lambda rows: oracle.check(q, rows))
    assert (client.attempted, client.failed) == (1, 0)

    wrong_rank = [good[0][:2] + (good[0][2] + 0.01,)] + good[1:]
    missing_doc = good[:9]
    swapped = [good[-1]] + good[1:-1] + [good[0]] if good[0][2] != good[-1][2] else None
    for bad in (wrong_rank, missing_doc, swapped):
        if bad is not None:
            client.request("search", lambda: bad, lambda rows: oracle.check(q, rows))

    def boom():
        raise RuntimeError("engine error")

    client.request("search", boom, lambda rows: True)
    assert client.failed == client.attempted - 1 >= 3
    assert client.failed / client.attempted > 0.5


def test_store_check_rejects_a_stale_store(tmp_path):
    ids, texts = gen.corpus(3, SPEC)
    docs = dict(zip(ids, texts))
    oracle = SearchOracle(docs)
    store = tmp_path / "store"
    for table, src in (("term_freq", "o_tf"), ("term_doc_freq", "o_df"), ("doc_info", "o_di"), ("corpus_info", "o_ci")):
        (store / table).mkdir(parents=True)
        part = "(FORMAT parquet, PARTITION_BY (corpus_name))" if table == "term_freq" else "(FORMAT parquet)"
        target = store / table if table == "term_freq" else store / table / "part-0.parquet"
        oracle.con.execute(f"COPY {src} TO '{target}' {part}")
    assert oracle.store_matches(str(store))
    assert oracle.a2_invariants(str(store), len(docs))
    assert not oracle.a2_invariants(str(store), len(docs) + 1)
    docs.pop(ids[0])
    oracle.load(docs)
    assert not oracle.store_matches(str(store))
