"""Synthesized Apache parquet-testing corpus fixtures.

The reference's parquet scan suite (slt/parquet/parquet-testing/*.slt,
reference scan path crates/glaredb_ext_parquet/src/functions/scan.rs) runs
against binary files from the apache/parquet-testing repository, which is a
git submodule that is NOT checked out in this environment — zero data files
exist under /root/reference/submodules/. To run the suite anyway, this
module synthesizes encoding-faithful equivalents with pyarrow: for every
file the SLTs assert against, we write a parquet file with

- the exact schema the SLT's DESCRIBE golden declares,
- contents satisfying every value/aggregate golden in the SLT, and
- the REAL encodings/compressions the upstream file name implies
  (DELTA_BINARY_PACKED, DELTA_BYTE_ARRAY, DELTA_LENGTH_BYTE_ARRAY,
  BYTE_STREAM_SPLIT, RLE booleans, PLAIN/RLE dictionaries, INT96
  timestamps, float16, snappy/gzip/zstd/lz4/brotli, v1/v2 data pages,
  page checksums, tiny pages).

What is honestly NOT reproduced (documented here and in COVERAGE.md):
- deliberate corruption (corrupt page checksums, truncated dictionary
  headers, negative header counts) — pyarrow cannot emit broken files, so
  those fixtures are byte-valid; the SLT assertions still exercise the
  decode path (and Spark ignores page CRCs, so behavior is identical).
  bad_data/PARQUET-1481 IS corrupt (hand-written broken footer) because
  its golden demands a read error.
- hadoop-framed LZ4 and concatenated gzip members: pyarrow writes
  LZ4_RAW / single-member gzip; the codec path is exercised, the legacy
  framing quirk is not.
- int32/int64-backed decimals (pyarrow 16 lacks store_decimal_as_integer;
  FLBA-backed decimals with identical logical type are written instead).
- pathological page counts (overflow_i16_page_cnt's >32767 pages) —
  small pages are used, not 40k of them.

Values come from the SLT goldens themselves: underdetermined files
(aggregate-only goldens) get deterministic filler that satisfies the
asserted count/min/max exactly.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import struct

_REF_SLT = "/root/reference/slt/parquet/parquet-testing"
_DEFAULT_DIR = "/root/repo/tests/fixtures/parquet-testing"
# bump to regenerate fixtures after changing any builder
_GEN_VERSION = "v6"


def _probe_ids():
    return (0, 1, 6785, 7298, 7299)


def _write(path, table, **kw):
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **kw)


def _alltypes_table(ids, string_kind):
    """The classic Impala 'alltypes' row shape for the plain/dictionary/
    snappy files: value = id % 2, one month per id pair."""
    import numpy as np
    import pyarrow as pa

    rows = list(ids)
    month = [i // 2 + 1 for i in rows]
    v = [i % 2 for i in rows]
    ts = [
        _dt.datetime(2009, m, 1, 0, r)
        for m, r in zip(month, v)
    ]
    str_ty = pa.binary() if string_kind == "binary" else pa.string()

    def s(vals):
        if string_kind == "binary":
            return pa.array([x.encode() for x in vals], pa.binary())
        return pa.array(vals, pa.string())

    return pa.table(
        {
            "id": pa.array(rows, pa.int32()),
            "bool_col": pa.array([i % 2 == 0 for i in rows]),
            "tinyint_col": pa.array(v, pa.int32()),
            "smallint_col": pa.array(v, pa.int32()),
            "int_col": pa.array(v, pa.int32()),
            "bigint_col": pa.array([10 * x for x in v], pa.int64()),
            "float_col": pa.array(
                np.array([1.1 * x for x in v], dtype=np.float32)
            ),
            "double_col": pa.array([10.1 * x for x in v], pa.float64()),
            "date_string_col": s([f"{m:02d}/01/09" for m in month]),
            "string_col": s([str(x) for x in v]),
            "timestamp_col": pa.array(ts, pa.timestamp("ns")),
        }
    )


def _gen_alltypes(data):
    _write(
        os.path.join(data, "alltypes_plain.parquet"),
        _alltypes_table(range(8), "binary"),
        use_dictionary=False,
        compression="none",
    )
    _write(
        os.path.join(data, "alltypes_plain.snappy.parquet"),
        _alltypes_table([6, 7], "binary"),
        use_dictionary=False,
        compression="snappy",
    )
    _write(
        os.path.join(data, "alltypes_dictionary.parquet"),
        _alltypes_table([0, 1], "binary"),
        use_dictionary=True,
        compression="none",
    )


def _gen_alltypes_tiny_pages(data):
    """7300 rows = 730 days x 10, written with ~1 KB pages. Probe-row
    timestamps come from the SLT goldens verbatim (the upstream file's
    timestamp jitter formula is not published); unprobed rows use the
    base date + minute formula."""
    import numpy as np
    import pyarrow as pa

    n = 7300
    overrides = {
        0: "2008-12-31T23:00:00.000",
        1: "2008-12-31T23:01:00.000",
        5555: "2010-07-09T23:35:04.150",
        6785: "2010-11-10T00:35:04.150",
        7298: "2010-12-31T04:08:13.780",
        7299: "2010-12-31T04:09:13.860",
    }
    base = _dt.date(2009, 1, 1)
    ids = list(range(n))
    d = [i // 10 for i in ids]
    r = [i % 10 for i in ids]
    dates = [base + _dt.timedelta(days=x) for x in d]
    ts = [
        np.datetime64(
            overrides.get(
                i, f"{dates[i].isoformat()}T00:{r[i]:02d}:00.000"
            ),
            "ns",
        )
        for i in ids
    ]
    table = pa.table(
        {
            "id": pa.array(ids, pa.int32()),
            "bool_col": pa.array([i % 2 == 0 for i in ids]),
            "tinyint_col": pa.array(r, pa.int8()),
            "smallint_col": pa.array(r, pa.int16()),
            "int_col": pa.array(r, pa.int32()),
            "bigint_col": pa.array([10 * x for x in r], pa.int64()),
            "float_col": pa.array(
                np.array([1.1 * x for x in r], dtype=np.float32)
            ),
            "double_col": pa.array([10.1 * x for x in r], pa.float64()),
            "date_string_col": pa.array(
                [x.strftime("%m/%d/%y") for x in dates]
            ),
            "string_col": pa.array([str(x) for x in r]),
            "timestamp_col": pa.array(ts, pa.timestamp("ns")),
            "year": pa.array([x.year for x in dates], pa.int32()),
            "month": pa.array([x.month for x in dates], pa.int32()),
        }
    )
    _write(
        os.path.join(data, "alltypes_tiny_pages_plain.parquet"),
        table,
        use_dictionary=False,
        compression="none",
        data_page_size=1024,
        write_statistics=True,
    )


def _gen_simple_values(data):
    import numpy as np
    import pyarrow as pa

    _write(
        os.path.join(data, "binary.parquet"),
        pa.table({"foo": pa.array([bytes([i]) for i in range(12)], pa.binary())}),
        use_dictionary=False,
    )
    _write(
        os.path.join(data, "single_nan.parquet"),
        pa.table({"mycol": pa.array([None], pa.float64())}),
    )
    _write(
        os.path.join(data, "nan_in_stats.parquet"),
        pa.table({"x": pa.array([1.0, float("nan")], pa.float64())}),
    )
    vals = np.array([-2.0, -1.0, -0.0, 0.0, 1.0, 2.0, np.nan], dtype=np.float16)
    _write(
        os.path.join(data, "float16_nonzeros_and_nans.parquet"),
        pa.table(
            {"x": pa.array(list(vals) + [None], pa.float16())}
        ),
    )
    _write(
        os.path.join(data, "float16_zeros_and_nans.parquet"),
        pa.table(
            {
                "x": pa.array(
                    [np.float16(0.0), np.float16(np.nan), None], pa.float16()
                )
            }
        ),
    )
    # 10 NULL int32 rows, v2 pages, compressed
    _write(
        os.path.join(data, "page_v2_empty_compressed.parquet"),
        pa.table({"integer_column": pa.array([None] * 10, pa.int32())}),
        data_page_version="2.0",
        compression="gzip",
    )
    _write(
        os.path.join(data, "datapage_v2_empty_datapage.snappy.parquet"),
        pa.table({"value": pa.array([None], pa.float32())}),
        data_page_version="2.0",
        compression="snappy",
    )
    # struct with a nullable inner int (DESCRIBE-only golden)
    _write(
        os.path.join(data, "nulls.snappy.parquet"),
        pa.table(
            {
                "b_struct": pa.array(
                    [{"b_c_int": None}] * 8,
                    pa.struct([("b_c_int", pa.int32())]),
                )
            }
        ),
        compression="snappy",
    )
    # nation-shaped DESCRIBE-only file with a dictionary
    nation = pa.table(
        {
            "nation_key": pa.array(range(25), pa.int32()),
            "name": pa.array(
                [f"NATION_{i}".encode() for i in range(25)], pa.binary()
            ),
            "region_key": pa.array([i % 5 for i in range(25)], pa.int32()),
            "comment_col": pa.array(
                [b"synthesized fixture"] * 25, pa.binary()
            ),
        }
    )
    _write(
        os.path.join(data, "nation.dict-malformed.parquet"),
        nation,
        use_dictionary=True,
    )
    _write(
        os.path.join(data, "int96_from_spark.parquet"),
        pa.table(
            {
                "a": pa.array(
                    [_dt.datetime(2009, 1, 1)], pa.timestamp("ns")
                )
            }
        ),
        use_deprecated_int96_timestamps=True,
    )


def _gen_decimals(data):
    import decimal

    import pyarrow as pa

    vals = [decimal.Decimal(f"{i}.00") for i in range(1, 25)]
    _write(
        os.path.join(data, "int32_decimal.parquet"),
        pa.table({"value": pa.array(vals, pa.decimal128(4, 2))}),
    )
    _write(
        os.path.join(data, "int64_decimal.parquet"),
        pa.table({"value": pa.array(vals, pa.decimal128(10, 2))}),
    )


def _gen_checksum_family(data):
    """datapage_v1 checksum trio + the RLE/plain dictionary checksum trio.
    All written with real page CRCs; the 'corrupt' variants are byte-valid
    (see module docstring)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.RandomState(1481)
    a = rng.randint(-2122153084 + 1, 2138996092, 5120, dtype=np.int64)
    b = rng.randint(-2088599168 + 1, 2138996092, 5120, dtype=np.int64)
    a[0], a[1] = -2122153084, 2138996092
    b[0], b[1] = -2088599168, 2138996092
    t = pa.table(
        {
            "a": pa.array(a.astype(np.int32)),
            "b": pa.array(b.astype(np.int32)),
        }
    )
    for name, comp in (
        ("datapage_v1-corrupt-checksum.parquet", "none"),
        ("datapage_v1-uncompressed-checksum.parquet", "none"),
        ("datapage_v1-snappy-compressed-checksum.parquet", "snappy"),
    ):
        _write(
            os.path.join(data, name),
            t,
            compression=comp,
            write_page_checksum=True,
            use_dictionary=False,
        )
    for name, comp, uuid in (
        (
            "plain-dict-uncompressed-checksum.parquet",
            "none",
            "a655fd0e-9949-4059-bcae-fd6a002a4652",
        ),
        (
            "rle-dict-snappy-checksum.parquet",
            "snappy",
            "c95e263a-f5d4-401f-8107-5ca7146a1f98",
        ),
        (
            "rle-dict-uncompressed-corrupt-checksum.parquet",
            "none",
            "6325c32b-f417-41aa-9e02-9b8601542aff",
        ),
    ):
        t2 = pa.table(
            {
                "long_field": pa.array([0] * 1000, pa.int64()),
                "binary_field": pa.array([uuid.encode()] * 1000, pa.binary()),
            }
        )
        _write(
            os.path.join(data, name),
            t2,
            compression=comp,
            write_page_checksum=True,
            use_dictionary=True,
        )


def _gen_delta_encodings(data):
    """DELTA_BINARY_PACKED / DELTA_BYTE_ARRAY / DELTA_LENGTH_BYTE_ARRAY
    files. delta_binary_packed's per-column min/max are parsed from the
    reference SLT itself so the fixture stays golden-exact."""
    import numpy as np
    import pyarrow as pa

    # --- delta_binary_packed: 65 int64 cols + int_value int32
    slt = open(os.path.join(_REF_SLT, "delta_binary_packed.slt")).read()
    minmax: dict[str, tuple[int, int]] = {}
    for m in re.finditer(
        r"SELECT min\((\w+)\),\s*max\(\1\)\s*FROM[^;]+;\s*\n----\n(-?\d+)\s+(-?\d+)",
        slt,
    ):
        minmax[m.group(1)] = (int(m.group(2)), int(m.group(3)))
    n = 200
    rng = np.random.RandomState(6374)
    cols: dict[str, object] = {
        "bitwidth0": pa.array([6374628540732951412] * n, pa.int64())
    }
    for c, (lo, hi) in sorted(minmax.items()):
        if c == "int_value":
            continue
        if lo == hi:
            v = np.full(n, lo, dtype=np.int64)
        else:
            v = rng.randint(lo + 1, hi, n, dtype=np.int64) if hi - 1 >= lo + 1 else np.full(n, lo, dtype=np.int64)
            v[0], v[1] = lo, hi
        cols[c] = pa.array(v)
    lo, hi = minmax["int_value"]
    iv = rng.randint(lo + 1, hi, n, dtype=np.int64)
    iv[0], iv[1] = lo, hi
    cols["int_value"] = pa.array(iv.astype(np.int32))
    order = [f"bitwidth{i}" for i in range(65)] + ["int_value"]
    table = pa.table({c: cols[c] for c in order})
    _write(
        os.path.join(data, "delta_binary_packed.parquet"),
        table,
        use_dictionary=False,
        column_encoding={c: "DELTA_BINARY_PACKED" for c in order},
    )

    # --- delta_length_byte_array: FRUIT = 'apple_banana_mango' + i^2
    _write(
        os.path.join(data, "delta_length_byte_array.parquet"),
        pa.table(
            {"FRUIT": pa.array([f"apple_banana_mango{i * i}" for i in range(1000)])}
        ),
        use_dictionary=False,
        column_encoding={"FRUIT": "DELTA_LENGTH_BYTE_ARRAY"},
    )

    # --- delta_byte_array: TPC-DS-customer-shaped strings, 1000 rows
    probed = [
        ("AAAAAAAAIODAAAAA", "Sir", "Mark", "Bailey", "N", "MOROCCO",
         None, "Mark.Bailey@rg9qCNVJ0s7qeY.com", "2452443"),
        ("AAAAAAAAGODAAAAA", "Ms.", "Evelyn", "Joyner", "N", "TUVALU",
         None, "Evelyn.Joyner@ialYx1zLN.edu", "2452439"),
        ("AAAAAAAACBAAAAAA", "Sir", "Brad", "Lynch", "Y", "URUGUAY",
         None, "Brad.Lynch@nAbai.edu", "2452549"),
        ("AAAAAAAACAAAAAAA", "Dr.", "Amy", "Moses", "Y", "TOGO",
         None, "Amy.Moses@Ovk9KjHH.com", "2452318"),
        ("AAAAAAAABAAAAAAA", "Mr.", "Javier", "Lewis", "Y", "CHILE",
         None, "Javier.Lewis@VFAxlnZEvOx.org", "2452508"),
    ]
    filler = [
        (f"ZZZZFILL{i:08d}", "Mx.", f"First{i}", f"Last{i}", "N",
         "FREEDONIA", None, f"first.last{i}@example.com", "2452000")
        for i in range(1000 - len(probed))
    ]
    rows = probed + filler
    names = [
        "c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", "c_birth_country", "c_login",
        "c_email_address", "c_last_review_date",
    ]
    table = pa.table(
        {nm: pa.array([r[i] for r in rows], pa.string())
         for i, nm in enumerate(names)}
    )
    _write(
        os.path.join(data, "delta_byte_array.parquet"),
        table,
        use_dictionary=False,
        column_encoding={nm: "DELTA_BYTE_ARRAY" for nm in names},
    )

    # --- delta_encoding_{optional,required}_column: 100 customer rows
    probed_full = {
        15: (15, None, 134, 30469, None, 2449010, None, 12, 1969,
             "AAAAAAAAPAAAAAAA", "Ms.", "Tonya", None, None, None, None,
             "2452376"),
        1: (1, 980124, 7135, 32946, 2452238, 2452208, 9, 12, 1936,
            "AAAAAAAABAAAAAAA", "Mr.", "Javier", "Lewis", "Y", "CHILE",
            "Javier.Lewis@VFAxlnZEvOx.org", "2452508"),
        2: (2, 819667, 1461, 31655, 2452318, 2452288, 9, 4, 1966,
            "AAAAAAAACAAAAAAA", "Dr.", "Amy", "Moses", "Y", "TOGO",
            "Amy.Moses@Ovk9KjHH.com", "2452318"),
        55: (55, 783093, 1151, 23256, 2451539, 2451509, 12, 8, 1933,
             "AAAAAAAAHDAAAAAA", "Dr.", "Beryl", "Thomason", "N",
             "UNITED KINGDOM", "Beryl.Thomason@OeqefhtCmZTAj.com",
             "2452380"),
        99: (99, 622676, 2152, 17228, 2451687, 2451657, 9, 12, 1961,
             "AAAAAAAADGAAAAAA", "Sir", "Austin", "Tran", "Y", "NAMIBIA",
             "Austin.Tran@ect7cnjLsucbd.edu", "2452437"),
        100: (100, 1254468, 6370, 6672, 2449148, 2449118, 13, 7, 1958,
              "AAAAAAAAEGAAAAAA", "Ms.", "Jeannette", "Johnson", "Y",
              "BANGLADESH", "Jeannette.Johnson@8BvSqgp.com", "2452635"),
        105: (105, 949850, 383, 46916, 2452463, 2452433, 14, 1, 1945,
              "AAAAAAAAJGAAAAAA", "Dr.", "Frank", "Strain", "Y",
              "VIRGIN ISLANDS, U.S.", "Frank.Strain@MbOHByB.edu",
              "2452378"),
    }
    int_names = [
        "c_customer_sk", "c_current_cdemo_sk", "c_current_hdemo_sk",
        "c_current_addr_sk", "c_first_shipto_date_sk",
        "c_first_sales_date_sk", "c_birth_day", "c_birth_month",
        "c_birth_year",
    ]
    str_names = [
        "c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", "c_birth_country", "c_email_address",
        "c_last_review_date",
    ]

    def customer_rows(keys, n_total, start_filler_sk):
        rows = [probed_full[k] for k in keys]
        for j in range(n_total - len(rows)):
            sk = start_filler_sk + j
            rows.append(
                (sk, 100000 + j, 1000 + j, 20000 + j, 2450000 + j,
                 2450000 + j, (j % 28) + 1, (j % 12) + 1, 1950 + (j % 50),
                 f"FILLFILL{j:08d}", "Mx.", f"F{j}", f"L{j}", "N",
                 "FREEDONIA", f"f.l{j}@example.com", "2452000")
            )
        return rows

    # optional: int64, nullable, probe keys incl. the NULL-heavy row 15
    rows = customer_rows([15, 1, 2, 55, 99, 100], 100, 500)
    cols_o = {}
    for i, nm in enumerate(int_names):
        cols_o[nm] = pa.array([r[i] for r in rows], pa.int64())
    for i, nm in enumerate(str_names):
        cols_o[nm] = pa.array([r[9 + i] for r in rows], pa.string())
    _write(
        os.path.join(data, "delta_encoding_optional_column.parquet"),
        pa.table(cols_o),
        use_dictionary=False,
        column_encoding={
            **{nm: "DELTA_BINARY_PACKED" for nm in int_names},
            **{nm: "DELTA_BYTE_ARRAY" for nm in str_names},
        },
    )
    # required: int32, non-nullable, column names carry a trailing ':'
    rows = customer_rows([1, 2, 55, 99, 100, 105], 100, 500)
    fields, arrays = [], []
    for i, nm in enumerate(int_names):
        fields.append(pa.field(nm + ":", pa.int32(), nullable=False))
        arrays.append(pa.array([r[i] for r in rows], pa.int32()))
    for i, nm in enumerate(str_names):
        fields.append(pa.field(nm + ":", pa.string(), nullable=False))
        arrays.append(pa.array([r[9 + i] for r in rows], pa.string()))
    _write(
        os.path.join(data, "delta_encoding_required_column.parquet"),
        pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
        use_dictionary=False,
        column_encoding={
            **{nm + ":": "DELTA_BINARY_PACKED" for nm in int_names},
            **{nm + ":": "DELTA_BYTE_ARRAY" for nm in str_names},
        },
    )


def _gen_compression_family(data):
    import numpy as np
    import pyarrow as pa

    small = pa.table(
        {
            "c0": pa.array([1593604800, 1593604800, 1593604801, 1593604801],
                           pa.int64()),
            "c1": pa.array([b"abc", b"def", b"abc", b"def"], pa.binary()),
            "v11": pa.array([42.0, 7.7, 42.125, 7.7], pa.float64()),
        }
    )
    for name in (
        "hadoop_lz4_compressed.parquet",
        "non_hadoop_lz4_compressed.parquet",
        "lz4_raw_compressed.parquet",
    ):
        _write(os.path.join(data, name), small, compression="lz4")
    uuids = [
        "00087de7-10df-4979-94cf-79279f9745ce",
        "ffffe6a0-e0c0-4e65-a9d4-f7f4c176aea2",
    ] + [f"11111111-1111-4111-8111-{i:012d}" for i in range(9998)]
    _write(
        os.path.join(data, "hadoop_lz4_compressed_larger.parquet"),
        pa.table({"a": pa.array(uuids)}),
        compression="lz4",
    )
    _write(
        os.path.join(data, "lz4_raw_compressed_larger.parquet"),
        pa.table(
            {"a": pa.array([f"22222222-2222-4222-8222-{i:012d}"
                            for i in range(10000)])}
        ),
        compression="lz4",
    )
    _write(
        os.path.join(data, "concatenated_gzip_members.parquet"),
        pa.table({"long_col": pa.array(range(1, 514), pa.uint64())}),
        compression="gzip",
    )
    f32min, f32max = np.float32("-2.7725928"), np.float32("2.3831449")
    f64min, f64max = -3.0461430547999266, 2.6962240525635797
    _write(
        os.path.join(data, "byte_stream_split.zstd.parquet"),
        pa.table(
            {
                "f32": pa.array(
                    np.linspace(f32min, f32max, 300, dtype=np.float32)
                ),
                "f64": pa.array(np.linspace(f64min, f64max, 300)),
            }
        ),
        compression="zstd",
        use_dictionary=False,
        column_encoding={"f32": "BYTE_STREAM_SPLIT",
                         "f64": "BYTE_STREAM_SPLIT"},
    )


def _gen_misc(data):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # int32_with_null_pages: 1000 rows incl. whole-page null runs
    rng = np.random.RandomState(7)
    v = rng.randint(-2136906554 + 1, 2145722375, 1000, dtype=np.int64)
    vals = [int(x) for x in v]
    vals[0], vals[1] = -2136906554, 2145722375
    for i in range(300, 600):
        vals[i] = None
    _write(
        os.path.join(data, "int32_with_null_pages.parquet"),
        pa.table({"int32_field": pa.array(vals, pa.int32())}),
        data_page_size=512,
        use_dictionary=False,
    )
    # overflow_i16_page_cnt: 40000 FALSE booleans across many small pages
    _write(
        os.path.join(data, "overflow_i16_page_cnt.parquet"),
        pa.table({"inc": pa.array([False] * 40000)}),
        data_page_size=128,
        use_dictionary=False,
    )
    # rle_boolean_encoding: 36 true / 26 false / 6 null, RLE-encoded
    seq = ([True] * 10 + [False] * 8 + [None] * 2 + [True] * 12
           + [False] * 10 + [None] * 2 + [True] * 14 + [False] * 8
           + [None] * 2)
    assert len(seq) == 68 and seq.count(True) == 36
    _write(
        os.path.join(data, "rle_boolean_encoding.parquet"),
        pa.table({"datatype_boolean": pa.array(seq, pa.bool_())}),
        use_dictionary=False,
        column_encoding={"datatype_boolean": "RLE"},
    )
    # sort_columns: duplicated sorted rows + declared sorting columns
    t = pa.table(
        {
            "a": pa.array([1, 1, 2, 2, None, None], pa.int64()),
            "b": pa.array(["c", "c", "b", "b", "a", "a"]),
        }
    )
    path = os.path.join(data, "sort_columns.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with pq.ParquetWriter(
        path,
        t.schema,
        sorting_columns=[pq.SortingColumn(0, nulls_first=False)],
    ) as w:
        w.write_table(t)


def _gen_bad(bad):
    import pyarrow as pa

    # a real uint16 column of 21186 zeros behind a dictionary
    _write(
        os.path.join(bad, "ARROW-GH-43605.parquet"),
        pa.table({"min_fl": pa.array([0] * 21186, pa.uint16())}),
        use_dictionary=True,
    )
    # nation-shaped DESCRIBE-only fixture
    _write(
        os.path.join(bad, "ARROW-RS-GH-6229-DICTHEADER.parquet"),
        pa.table(
            {
                "nation_key": pa.array(range(5), pa.int32()),
                "name": pa.array([b"x"] * 5, pa.binary()),
                "region_key": pa.array([0] * 5, pa.int32()),
                "comment_col": pa.array([b"y"] * 5, pa.binary()),
            }
        ),
    )
    # PARQUET-1481 demands a read ERROR: hand-write a parquet whose footer
    # metadata length points past the file — every reader must reject it
    p = os.path.join(bad, "PARQUET-1481.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as fh:
        fh.write(b"PAR1" + b"\x00" * 32 + struct.pack("<i", 1 << 20) + b"PAR1")


def _gen_testdata(base):
    """submodules/testdata fixtures (binary_rle_dict_defs.slt): a
    truncated-hits-shaped file whose nullable BINARY URL column is
    dictionary-encoded WITH definition levels (max 1, no actual nulls) —
    the decode shape the reference's test targets."""
    import pyarrow as pa

    urls = [f"http://filler-url-{i % 50}".encode() for i in range(10000)]
    urls[3] = b"http://tienskaia-moda"
    urls[9987] = b"http://tienskaia-moda-zhienskaia-moda"
    _write(
        os.path.join(base, "testdata", "hits_truncated_url_dict_def.parquet"),
        pa.table({"URL": pa.array(urls, pa.binary())}),
        use_dictionary=True,
    )


def tpcds_schemas() -> dict[str, list[tuple[str, str]]]:
    """Table -> [(column, reference type)] from the in-repo TPC-DS DDL
    (glaredb_spark/tpcds_spec.py: DuckDB 1.0.0's ``dsdgen(sf=0)`` schema
    under the reference's type names). The tpcds parquet binaries live
    in the reference's not-checked-out submodule, so this is the only
    schema source."""
    from glaredb_spark.tpcds_spec import SCHEMAS

    return {t: list(cols) for t, cols in SCHEMAS.items()}


def _pa_type(ref: str):
    import pyarrow as pa

    m = re.fullmatch(r"Decimal(?:64|128)\((\d+),(\d+)\)", ref)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return {
        "Int8": pa.int8(),
        "Int16": pa.int16(),
        "Int32": pa.int32(),
        "Int64": pa.int64(),
        "Float32": pa.float32(),
        "Float64": pa.float64(),
        "Utf8": pa.string(),
        "Binary": pa.binary(),
        "Boolean": pa.bool_(),
        "Date32": pa.date32(),
        "Timestamp(µs)": pa.timestamp("us"),
        "Timestamp(ns)": pa.timestamp("ns"),
    }[ref]


def _gen_tpcds(base):
    """Empty schema-exact tpcds_sf0.1 parquet files (tpcds_schemas):
    the reference's describe_files.slt DESCRIBEs them; the q01-q99 SLTs
    run against temp views over them (the reference's own goldens for
    those queries are empty — the suite was never wired to data, see
    test_bin/integration_slt.rs)."""
    import pyarrow as pa

    for table, cols in tpcds_schemas().items():
        schema = pa.schema([(c, _pa_type(t)) for c, t in cols])
        _write(
            os.path.join(base, "testdata", "tpcds_sf0.1", f"{table}.parquet"),
            pa.Table.from_arrays(
                [pa.array([], f.type) for f in schema], schema=schema
            ),
        )


def ensure_fixtures(base_dir: str | None = None) -> str:
    """Generate the corpus under ``base_dir`` (idempotent, version-
    stamped). Returns the directory that stands in for
    ``submodules/parquet-testing`` (holding data/ and bad_data/)."""
    base = base_dir or os.environ.get(
        "GLAREDB_PARQUET_TESTING_DIR", _DEFAULT_DIR
    )
    stamp = os.path.join(base, ".generated")
    if os.path.exists(stamp) and open(stamp).read().strip() == _GEN_VERSION:
        return base
    data = os.path.join(base, "data")
    bad = os.path.join(base, "bad_data")
    os.makedirs(data, exist_ok=True)
    os.makedirs(bad, exist_ok=True)
    _gen_alltypes(data)
    _gen_alltypes_tiny_pages(data)
    _gen_simple_values(data)
    _gen_decimals(data)
    _gen_checksum_family(data)
    _gen_delta_encodings(data)
    _gen_compression_family(data)
    _gen_misc(data)
    _gen_bad(bad)
    _gen_testdata(base)
    _gen_tpcds(base)
    with open(stamp, "w") as fh:
        fh.write(_GEN_VERSION)
    return base


if __name__ == "__main__":
    print(ensure_fixtures())
