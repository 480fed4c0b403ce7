"""The same seed gives the same inputs; another seed gives others."""

from perfbench.spend_stream import Producer
from perfbench.tables import make_tables


def test_tables_repeat_per_seed():
    a, b, c = make_tables(5, 0.001), make_tables(5, 0.001), make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_transactions_repeat_per_seed():
    def lines(seed):
        p = Producer(seed)
        return [p.payload(1_700_000_000.0 + i) for i in range(500)]

    assert lines(1) == lines(1) != lines(2)
    # some events are redeliveries of earlier ones
    assert any(not fresh for _, fresh in lines(1))


def test_windowed_p99_is_the_median_of_whole_windows():
    from perfbench.spend_stream import P99_WINDOW_S, TICK_S, windowed_p99

    per = int(round(P99_WINDOW_S / TICK_S))
    # three whole windows whose files all read 1, 5 and 2, then a part window
    files = [[1.0]] * per + [[5.0]] * per + [[2.0]] * per + [[9.0]]
    assert windowed_p99(files) == (2.0, 3)
    # fewer files than one window make one window
    assert windowed_p99([[1.0, 3.0]]) == (3.0, 1)
