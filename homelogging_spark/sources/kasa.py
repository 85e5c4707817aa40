"""S7: Kasa HS110 smart-plug protocol (``Kasa/HS110Device.cs:25-65``,
``Kasa/Extensions.cs:41-77``).

The plug speaks length-prefixed TCP with an XOR-autokey "cipher"
(initial key 171; encrypting XORs each plaintext byte into the running
key, decrypting runs the inverse) — a documented, publicly analyzed
scheme. The decrypted payload is JSON; the readings are
``power_mw / 1000`` W and ``total_wh / 1000`` kWh.

Decrypt is a byte-loop -> Arrow-batched pandas UDF; everything after is
column expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


def xor_autokey_decrypt(data: bytes, key: int = 171) -> bytes:
    """Pure-python inverse autokey (``Extensions.cs:54-64``)."""
    out = bytearray(len(data))
    for i, b in enumerate(data):
        out[i] = b ^ key
        key = b
    return bytes(out)


def xor_autokey_encrypt(data: bytes, key: int = 171) -> bytes:
    """Forward autokey (``Extensions.cs:41-52``) — for round-trip tests
    and for writing commands if a connector ever needs it."""
    out = bytearray(len(data))
    for i, b in enumerate(data):
        key ^= b
        out[i] = key
    return bytes(out)


def _flat_segments(payload: "pd.Series"):
    """Concatenate a batch of byte payloads into one uint8 array with
    per-row segment starts/lengths (the Arrow-batch vectorization
    layout both codecs below share)."""
    import numpy as np

    lens = np.fromiter((len(b) for b in payload), dtype=np.int64, count=len(payload))
    flat = np.frombuffer(b"".join(payload), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return flat, starts, lens


def _split_rows(flat_out, starts, lens) -> list[bytes]:
    raw = flat_out.astype("uint8").tobytes()
    return [raw[s : s + n] for s, n in zip(starts.tolist(), lens.tolist())]


@F.pandas_udf(StringType())
def decrypt_payload(payload: pd.Series) -> pd.Series:
    """Batch-vectorized inverse autokey: ``plain = cipher XOR
    shift(cipher)`` with the initial key planted at each row's first
    byte — one numpy pass for the whole Arrow batch."""
    import numpy as np

    if payload.empty:
        return pd.Series([], dtype="object")
    flat, starts, lens = _flat_segments(payload)
    prev = np.empty_like(flat)
    prev[1:] = flat[:-1]
    prev[starts] = 171
    rows = _split_rows(flat ^ prev, starts, lens)
    return pd.Series([r.decode("utf-8", "replace") for r in rows])


@F.pandas_udf(BinaryType())
def encrypt_payload(payload: pd.Series) -> pd.Series:
    """Forward autokey over binary — constructs wire payloads in tests
    and round-trip oracle queries. The running key after byte ``j`` is
    ``171 XOR cumxor(plain[start..j])``, so a global cumulative XOR
    re-based at each segment start vectorizes the whole batch."""
    import numpy as np

    if payload.empty:
        return pd.Series([], dtype="object")
    flat, starts, lens = _flat_segments(payload)
    cum = np.bitwise_xor.accumulate(flat)
    seg_base = np.where(starts > 0, cum[starts - 1], 0).astype(flat.dtype)
    base = np.repeat(seg_base, lens)
    return pd.Series(_split_rows(171 ^ cum ^ base, starts, lens))


def decrypt_payload_expr(payload: Column | str, key: int = 171) -> Column:
    """JVM-side autokey decode: ``plain[i] = cipher[i] XOR cipher[i-1]``
    (``cipher[-1]`` = initial key) — the decrypt direction needs no
    running state, so it is a per-position expression over the binary
    column, for ASCII payloads (the plug's JSON always is).

    It is the slow path at scale: ``transform`` evaluates its per-byte
    lambda interpreted, without codegen. Decrypting 200k plug payloads
    over 4 partitions on a 4-core VM took 13.7 CPU s (21.6 in an
    earlier run) against 1.6 for :func:`decrypt_payload`, which
    ``parse_kasa`` uses. It is even with the UDF at a few hundred
    rows, and ahead there only when each Python task pays the stock
    daemon's ~0.25 s start-up (``homelogging_spark.workerd``)."""
    c = F.col(payload) if isinstance(payload, str) else payload

    def byte_at(p: Column) -> Column:
        return F.conv(F.hex(c.substr(p, F.lit(1))), 16, 10).cast("int")

    def plain_char(p: Column) -> Column:
        prev = F.when(p == 1, F.lit(key)).otherwise(byte_at(p - 1))
        return F.char(byte_at(p).bitwiseXOR(prev))

    return F.array_join(
        F.transform(F.sequence(F.lit(1), F.length(c)), plain_char), ""
    )


def parse_kasa(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload -> decrypted JSON -> power/energy readings
    (``Extensions.cs:75-77`` millis scaling)."""
    decrypted = decrypt_payload(F.col(payload_col))
    out = df.withColumn("json", decrypted)
    rt = "$.emeter.get_realtime"
    return out.withColumns(
        {
            "power_w": F.get_json_object("json", f"{rt}.power_mw").cast("double")
            / 1000.0,
            "energy_kwh": F.get_json_object("json", f"{rt}.total_wh").cast("double")
            / 1000.0,
        }
    )


def normalize_mac(mac: Column | str) -> Column:
    """J3 identity-key normalization: case/separator-insensitive MAC
    (``Tapo/TapoLogger.cs:158-161``, ``Kasa/KasaLogger.cs:114-120``)."""
    c = F.col(mac) if isinstance(mac, str) else mac
    return F.upper(F.translate(c, ":-.", ""))
