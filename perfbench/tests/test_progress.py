"""Micro-batches are mapped to blocks by their offsets, and their rows are
counted from the generator, not from Spark's numInputRows."""

from perfbench.chain import Chain, ChainSpec
from perfbench.progress import batches, block_range, delivered


def _progress(batch_id: int, start, end: int, input_rows: int) -> dict:
    offset = lambda b: None if b is None else '{"next_block":%d}' % b  # noqa: E731
    return {"batchId": batch_id, "numInputRows": input_rows,
            "sources": [{"startOffset": offset(start), "endOffset": offset(end)}]}


def test_batches_keep_those_that_read_rows_in_order():
    prog = [_progress(1, 5, 9, 40), _progress(0, None, 5, 30), _progress(2, 9, 9, 0)]
    assert [p["batchId"] for p in batches(prog)] == [0, 1]


def test_block_range_of_the_first_batch_starts_at_the_stream_start():
    assert block_range(_progress(0, None, 7, 1), from_block=3) == (3, 7)
    assert block_range(_progress(4, 7, 12, 1), from_block=3) == (7, 12)


def test_delivered_rows_come_from_the_chain():
    chain = Chain(ChainSpec(seed=8, blocks=50, logs_per_block=10, reorg_from=0, reorg_share=0.2))
    # numInputRows twice the delivered rows, as when a batch is scanned twice
    done = [_progress(0, None, 20, 999), _progress(1, 20, 35, 999)]
    got = delivered(chain, done, from_block=10)
    assert got == [len(chain.delivered_rows(10, 19)), len(chain.delivered_rows(20, 34))]
    assert got[0] > 100  # tombstones are counted with the logs
