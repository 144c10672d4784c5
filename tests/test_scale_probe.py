"""The scale probe's row assembly (no Spark session needed).

A dial row is measured only on the large corpus; its 1x figures must be
its own base probe's, looked up by name, whatever order the probes ran in.
"""

from __future__ import annotations

from tools.scale_probe import corpus_dir, table_rows


def test_dial_row_takes_its_base_probe_1x_figures():
    runs = {
        "ivf": (845_495, 1.1, 84_703_523, 17.6),
        "cooc": (1_374_493, 1.0, 556_630, 1.8),  # the probe that ran last
        "ivf (cells x10)": (9_756_829, 16.8),
        "cooc (V x10)": (13_744_930, 2.9),
    }
    rows = table_rows(
        ["ivf", "cooc"], [("ivf (cells x10)", "ivf"), ("cooc (V x10)", "cooc")], runs, 10
    )
    assert [r[0] for r in rows] == ["ivf", "cooc", "ivf (cells x10)", "cooc (V x10)"]
    assert rows[2] == ("ivf (cells x10)", 845_495, 9_756_829, 1.15, 1.1, 16.8, 1.53)
    assert rows[3] == ("cooc (V x10)", 1_374_493, 13_744_930, 1.0, 1.0, 2.9, 0.29)
    assert rows[0] == ("ivf", 845_495, 84_703_523, 10.02, 1.1, 17.6, 1.6)


def test_zero_base_count_gives_nan_growth_not_an_error():
    (row,) = table_rows(["q"], [], {"q": (0, 0.0, 5, 1.0)}, 10)
    assert row[3] != row[3] and row[6] != row[6]


def test_corpus_dirs_are_named_by_scale_factor():
    assert corpus_dir(1).endswith("/spark-warehouse/scale_probe/sf0.1")
    assert corpus_dir(10).endswith("/scale_probe/sf1")
    assert corpus_dir(3).endswith("/scale_probe/sf0.3")
