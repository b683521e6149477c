import csv
import hashlib

import inputs


def _digest(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_same_csv_bytes(tmp_path):
    a = inputs.write_zori_csv(str(tmp_path / "a.csv"), seed=7, regions=200)
    b = inputs.write_zori_csv(str(tmp_path / "b.csv"), seed=7, regions=200)
    assert _digest(tmp_path / "a.csv") == _digest(tmp_path / "b.csv")
    assert a.expected_rows == b.expected_rows


def test_other_seed_other_csv(tmp_path):
    inputs.write_zori_csv(str(tmp_path / "a.csv"), seed=7, regions=200)
    inputs.write_zori_csv(str(tmp_path / "b.csv"), seed=8, regions=200)
    assert _digest(tmp_path / "a.csv") != _digest(tmp_path / "b.csv")


def test_expected_rows_counts_distinct_non_null_cells(tmp_path):
    path = tmp_path / "z.csv"
    z = inputs.write_zori_csv(str(path), seed=3, regions=300)
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    assert header[:5] == inputs.ZORI_ID_COLUMNS and header[5:] == inputs.MONTHS
    assert len(body) == z.csv_rows > z.regions  # planted duplicates
    distinct = {r[0]: r for r in body}
    assert len(distinct) == z.regions
    assert len({r[4] for r in body}) == len(inputs.STATES)
    cells = sum(1 for r in distinct.values() for v in r[5:] if v)
    assert cells == z.expected_rows


def test_regions_spread_over_the_first_states(tmp_path):
    path = tmp_path / "z.csv"
    inputs.write_zori_csv(str(path), seed=3, regions=300, states=10)
    with open(path, newline="") as f:
        body = list(csv.reader(f))[1:]
    assert {r[4] for r in body} == set(inputs.STATES[:10])


def test_tables_are_deterministic_and_sized():
    a, b = inputs.build_tables(42), inputs.build_tables(42)
    for name, rows in inputs.TABLE_ROWS.items():
        assert a[name].num_rows == rows
        assert a[name].equals(b[name])
