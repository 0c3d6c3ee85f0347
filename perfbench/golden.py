"""DuckDB references the benchmark checks the engine's outputs against.

* `features_golden`: the 28-column feature table of a full 30-day daily run,
  computed by DuckDB from the generated raw inputs.  The view and assembly
  part is the registry's own `feature_assembly` oracle SQL; only its fixture
  CTEs (the analytics-layer inputs: borrow, repay, deposit, withdraw, liq,
  pos, smd, cpos) are replaced by SQL that stages and enriches the generated
  raw tables the way Stage and Analytics do.
* `corpus_oracles`: the registry's `pipeline_corpus_clean` and
  `dedup_suffix_spans` oracle SQL over the generated corpus.

`compare` is the order-independent frame comparison of the repository's
oracle gate: exact, unless a float tolerance is given.  The features golden
is compared with FEATURE_RTOL / FEATURE_ATOL: the engine sums doubles
through a decimal(38,6) cast, and when a value's shortest decimal form ends
in a 5 at the seventh digit Spark rounds it up while DuckDB rounds the
exact binary value (the half-microunit tie hazard `Scalars.davgQ`
documents).  A tied value moves a sum by one microunit; the tolerance
admits that and nothing of the size of a wrong feature.  Every run logs how
many cells needed it.
"""
import glob
import os

ZERO = "0x0000000000000000000000000000000000000000"
AS_OF_TOLERANCE = 7 * 86400
FEATURE_RTOL = 1e-9
FEATURE_ATOL = 1e-5


def _ctes(sql):
    """Split `WITH a AS (...), b AS (...) SELECT ...` into ([(name, body)], tail)."""
    s = sql.strip()
    assert s[:4].upper() == "WITH", "oracle SQL must start with WITH"
    i, out = 4, []
    while True:
        j = s.index("(", i)
        name = s[i:j].strip()
        assert name.upper().endswith(" AS"), name
        depth, k, quote = 0, j, False
        while True:
            ch = s[k]
            if ch == "'":
                quote = not quote
            elif not quote and ch == "(":
                depth += 1
            elif not quote and ch == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        out.append((name[:-3].strip(), s[j + 1:k]))
        rest = s[k + 1:].lstrip()
        if not rest.startswith(","):
            return out, rest
        i = len(s) - len(rest) + 1


def _fixtures(inp):
    p = lambda t: f"read_parquet('{os.path.join(inp, t + '.parquet')}')"
    ts = lambda c: f"CAST(epoch_ms(CAST({c} AS TIMESTAMP)) // 1000 AS BIGINT)"

    def enrich(token, qty, where):
        return f"""SELECT e.*, m.decimals AS token_decimal,
              CASE WHEN e.{token} = '{ZERO}' THEN e.{qty} / POWER(10.0, m.decimals)
                   ELSE e.{qty} / POWER(10.0, m.decimals) * pr.price END AS quantity_in_eth
            FROM st e
            JOIN {p('tokens_metadata')} m ON e.{token} = m.contract_address AND m.decimals > 0
            LEFT JOIN (SELECT e2.transaction_hash, MAX(d."timestamp") AS price_epoch
                FROM st e2 JOIN {p('daily_prices')} d ON d.address = e2.{token}
                  AND d."timestamp" BETWEEN e2.epoch_timestamp - {AS_OF_TOLERANCE} AND e2.epoch_timestamp
                GROUP BY 1) lp ON lp.transaction_hash = e.transaction_hash
            LEFT JOIN {p('daily_prices')} pr ON pr.address = e.{token} AND pr."timestamp" = lp.price_epoch
            WHERE {where}
              AND e.{token} NOT IN (SELECT contract_address FROM {p('tokens_blocklist')})"""

    events = f"""SELECT transaction_hash, CAST(block_number AS BIGINT) AS block_number,
          {ts('"timestamp"')} AS epoch_timestamp, protocol_name,
          lower(token_address) AS token_address, category,
          lower(account_address) AS account_address, quantity,
          lower(sender_address) AS sender_address,
          lower(liquidated_token_address) AS liquidated_token_address, quantity_liquidated
        FROM {p('raw_events')}"""
    enriched = f"""{enrich('token_address', 'quantity', "e.category <> 'liquidation'")}
        UNION ALL
        {enrich('liquidated_token_address', 'quantity_liquidated', "e.category = 'liquidation'")}"""
    cols = ("sender_address, account_address, transaction_hash, quantity_in_eth, "
            "epoch_timestamp, protocol_name, block_number")
    cat = lambda c: (f"SELECT {cols} FROM (WITH st AS ({events}) {enriched}) "
                     f"WHERE category = '{c}'")
    positions = f"""SELECT DISTINCT balance, lower(id) AS id, isCollateral AS is_collateral,
          lower(market.id) AS market_id, side, lower(account.id) AS account,
          CAST(block_number AS BIGINT) AS block_number, protocol
        FROM {p('raw_positions')}"""
    markets = f"""SELECT DISTINCT liquidationThreshold AS liquidation_threshold, name,
          inputTokenPriceUSD AS input_token_price_usd, id,
          CAST(inputToken.decimals AS INTEGER) AS decimals, protocol,
          CAST(block_number AS BIGINT) AS block_number
        FROM {p('raw_markets')}"""
    usd = "ps.balance * md.input_token_price_usd / POWER(10.0, md.decimals)"
    return {
        "ev": "SELECT 1 AS unused",
        "borrow": cat("borrow"), "repay": cat("repay"), "deposit": cat("deposit"),
        "withdraw": cat("withdraw"), "liq": cat("liquidation"),
        "pos": f"""SELECT ps.account, ps.block_number, ps.protocol, ps.side, ps.is_collateral,
              {usd} AS balance_in_usd,
              CASE WHEN {usd} = 0.0 OR ep.price = 0.0 THEN 0.0
                   ELSE (1.0 / ep.price) * ({usd}) END AS balance_in_eth,
              md.liquidation_threshold * 0.01 AS liquidation_threshold
            FROM ({positions}) ps
            JOIN ({markets}) md ON ps.market_id = md.id AND ps.block_number = md.block_number
            JOIN (SELECT block_number, protocol, input_token_price_usd AS price FROM ({markets})
                  WHERE name IN ('Aave interest bearing WETH', 'Compound Ether')) ep
              ON ps.block_number = ep.block_number AND ps.protocol = ep.protocol""",
        "smd": markets,
        "cpos": f"""SELECT balance, market_id, side, is_collateral, account, protocol
            FROM ({positions}) WHERE block_number = (SELECT MAX(block_number) FROM ({positions}))""",
    }


def features_golden(con, inp, assembly_sql):
    """The golden feature table (a pandas frame) of the full 30-day run."""
    ctes, tail = _ctes(assembly_sql)
    fx = _fixtures(inp)
    names = [n for n, _ in ctes]
    missing = set(fx) - set(names)
    assert not missing, f"feature_assembly oracle lost its fixture CTEs {missing}"
    sql = "WITH " + ",\n".join(f"{n} AS ({fx.get(n, b)})" for n, b in ctes) + "\n" + tail
    return con.sql(sql).df()


def corpus_oracles(con, inp, oracle_sql):
    """name -> oracle frame, over the generated corpus as `documents`."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(inp, 'documents.parquet')}'")
    return {n: con.sql(q).df() for n, q in oracle_sql.items()}


def read_parquet_dir(con, d):
    files = glob.glob(os.path.join(d, "*.parquet"))
    return con.sql("SELECT * FROM read_parquet([%s])" % ",".join(f"'{f}'" for f in files)).df()


def compare(have, want, rtol=0.0, atol=0.0):
    """Compare two frames as multisets: same columns, dtypes and row count;
    non-float columns exactly; float columns within `atol + rtol * |want|`
    (exactly when both are 0).  Returns (the first difference or None,
    the float cells that differ but within the tolerance, their largest
    absolute difference)."""
    import numpy as np
    import pandas as pd

    cols = sorted(want.columns)
    if sorted(have.columns) != cols:
        return f"columns {sorted(have.columns)} != {cols}", 0, 0.0
    if len(have) != len(want):
        return f"{len(have)} rows != {len(want)}", 0, 0.0
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])]
    exact = [c for c in cols if c not in floats]

    def canon(df):
        return df[exact + floats].sort_values(by=exact + floats, ignore_index=True)

    h, w = canon(have), canon(want)
    try:
        pd.testing.assert_frame_equal(h[exact], w[exact], check_dtype=True, check_exact=True)
        pd.testing.assert_series_equal(h.dtypes, w.dtypes)
    except AssertionError as e:
        return str(e).splitlines()[0][:200], 0, 0.0
    tolerated, worst = 0, 0.0
    for c in floats:
        a, b = h[c].to_numpy(), w[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        close = np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True)
        if not close.all():
            i = int(np.flatnonzero(~close)[0])
            return f'column "{c}" row {i}: {a[i]!r} != {b[i]!r}', 0, 0.0
        tolerated += int((~same).sum())
        if (~same).any():
            worst = max(worst, float(np.abs(a[~same] - b[~same]).max()))
    return None, tolerated, worst
