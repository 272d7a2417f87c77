"""The input generator is deterministic per seed and its closed forms
match the fake node."""

from perfbench import inputs


def test_freeze_inputs_deterministic_per_seed():
    assert inputs.freeze_inputs(7) == inputs.freeze_inputs(7)
    assert inputs.freeze_inputs(7) != inputs.freeze_inputs(8)


def test_corpus_order_deterministic_per_seed():
    assert inputs.corpus_order(7) == inputs.corpus_order(7)
    assert sorted(inputs.corpus_order(7)) == sorted(inputs.CORPUS_QUERIES)
    orders = {inputs.corpus_order(s) for s in range(20)}
    assert len(orders) > 1


def test_freeze_windows_never_overlap():
    for seed in range(20):
        gen = inputs.freeze_inputs(seed)
        starts = [start for start, _ in gen.warmup] + list(gen.starts)
        assert len(gen.starts) == inputs.MAX_SETS * inputs.CALLS_PER_SET
        assert len(set(starts)) == len(starts)
        assert all(s % inputs.WINDOW_BLOCKS == 0 for s in starts)


def test_freeze_chunks_cover_window():
    chunks = inputs.freeze_chunks(3000, 1000)
    assert len(chunks) == 10
    assert chunks[0] == (3000, 3099) and chunks[-1] == (3900, 3999)
    assert inputs.freeze_chunks(3000, 150) == [(3000, 3099), (3100, 3149)]


def test_expected_rows_match_fake_node():
    from cryo_spark.sources import rpc
    from cryo_spark.sources import rpc_families as fam

    node = fam.full_fake_transport_factory(rpc.RpcConfig())
    first, last = 4000, 4023
    txs = sum(
        len(node("eth_getBlockByNumber", [hex(n), True])["transactions"])
        for n in range(first, last + 1)
    )
    logs = len(node("eth_getLogs", [{"fromBlock": hex(first), "toBlock": hex(last)}]))
    assert inputs.expected_freeze_rows("blocks", first, last) == 24
    assert inputs.expected_freeze_rows("transactions", first, last) == txs
    assert inputs.expected_freeze_rows("logs", first, last) == logs
