"""Deterministic text serialization — the "semantic sentence" (U2).

The reference renders an 11-line template per day (sentence_builder.py:
71-98; golden sample RELEVANT_ERCOT_APIS.md:57-69). Here the template is
built from Spark SQL strings: ``semantic_sentence`` returns ONE SQL
expression over the per-day metric columns, which the JVM parses in one
call (built Column by Column, the same template cost ~1.4k py4j round
trips per plan). It stays inside whole-stage codegen, Catalyst can
prune/fold through it, and it is byte-for-byte testable against the
published golden output.

Numbers render with ``format_number(x, '0.0…')``, which is Java's
``DecimalFormat``: it rounds the exact binary value half-even, as
Python's ``f"{v:.Nf}"`` does. The ``bround`` + ``format_string('%.Nf')``
shim it replaces rounded the *decimal* representation half-even, so it
disagreed with Python on ties in that representation: 21.95 is stored
as 21.9499…, which Python prints as "21.9" and the shim printed "22.0".
"""

from __future__ import annotations

#: 15-minute SCED intervals per day — the /96 in sentence_builder.py:46-48
SCED_INTERVALS_PER_DAY = 96


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: the parser unescapes
    backslashes, so they are doubled, and quotes are escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _fixed(x: str, precision: int) -> str:
    """SQL rendering ``x`` as Python's ``f"{x:.{precision}f}"`` does
    (NULL stays NULL)."""
    pattern = "0." + "0" * precision if precision else "0"
    return f"format_number({x}, '{pattern}')"


def fmt_metric(x: str, unit: str = "MW", precision: int = 0) -> str:
    """format_metric parity (reference sentence_builder.py:32-38), as SQL
    over the expression ``x``: NULL → 'N/A', else fixed-point with unit."""
    return f"coalesce(concat({_fixed(x, precision)}, {sql_str(' ' + unit)}), 'N/A')"


def renewables_derived(wind_sum: str, solar_sum: str, remres_sum: str, gen_total: str) -> dict[str, str]:
    """P8: derived renewables metrics (sentence_builder.py:41-56), as SQL
    over the four column expressions. All-or-nothing: any missing
    component nulls the whole block; pct is guarded by gen_total > 0."""
    n = SCED_INTERVALS_PER_DAY
    wind_avg, solar_avg, remres_avg = (f"({s} / {n})" for s in (wind_sum, solar_sum, remres_sum))
    total = f"{wind_avg} + {solar_avg} + {remres_avg}"
    all_present = f"{wind_sum} IS NOT NULL AND {solar_sum} IS NOT NULL AND {remres_sum} IS NOT NULL"
    return {
        "wind_avg": wind_avg,
        "solar_avg": solar_avg,
        "remres_avg": remres_avg,
        "renew_avg": f"CASE WHEN {all_present} THEN {total} END",
        "renew_pct": f"CASE WHEN {all_present} AND {gen_total} > 0 THEN ({total}) / {gen_total} * 100 END",
    }


def semantic_sentence(
    date_from: str,
    date_to: str,
    agg_load_summary: str,
    sum_telem_gen_mw: str,
    dam_avg_price: str,
    wind_sum: str,
    solar_sum: str,
    remres_sum: str,
    mw_offered: str,
    sum_telem_dsr_load: str,
    sum_output_sched: str,
    sum_lsl_output_sched: str,
    sum_hsl_output_sched: str,
    sum_base_point_non_irr: str,
    sum_hasl_non_irr: str,
    sum_lasl_non_irr: str,
    avg_temp_c: str,
) -> str:
    """The full 11-line template (sentence_builder.py:71-98) as one SQL
    ``concat_ws('\\n', ...)`` expression. Each argument is a SQL
    expression, in practice the name of a per-day metric column."""
    d = renewables_derived(wind_sum, solar_sum, remres_sum, sum_telem_gen_mw)
    pct = f"coalesce(concat({_fixed(d['renew_pct'], 0)}, '%'), 'N/A')"
    renewables = (
        f"CASE WHEN {d['renew_avg']} IS NULL THEN 'Renewables: N/A' "
        f"ELSE concat('Renewables: ', {fmt_metric(d['renew_avg'])}, "
        f"' (wind ', {fmt_metric(d['wind_avg'])}, ' | solar ', {fmt_metric(d['solar_avg'])}, "
        f"' | other ', {fmt_metric(d['remres_avg'])}, ') (', {pct}, ')') END"
    )
    lines = [
        "'ISO: ERCOT'",
        f"concat('Date_from: ', CAST({date_from} AS STRING))",
        f"concat('Date_to:   ', CAST({date_to} AS STRING))",
        f"concat('Avg system load: ', {fmt_metric(agg_load_summary)})",
        f"concat('Telemetry generation: ', {fmt_metric(sum_telem_gen_mw)})",
        f"concat('DAM HubAvg price: ', {fmt_metric(dam_avg_price, '$/MWh', 2)})",
        renewables,
        f"concat('ECRSS max offer: ', {fmt_metric(mw_offered)})",
        f"concat('DSR load: ', {fmt_metric(sum_telem_dsr_load)})",
        f"concat('SCED dispatchable: ', {fmt_metric(sum_output_sched)}, "
        f"' (headroom LSL ', {fmt_metric(sum_lsl_output_sched)}, "
        f"' | HSL ', {fmt_metric(sum_hsl_output_sched)}, ')')",
        f"concat('Base-point non-intermittent: ', {fmt_metric(sum_base_point_non_irr)}, "
        f"' (SH ', {fmt_metric(sum_hasl_non_irr)}, ' | SL ', {fmt_metric(sum_lasl_non_irr)}, ')')",
        # a NaN mean renders N/A, like a missing one
        f"concat('Avg Texas temp: ', {fmt_metric(f'nanvl({avg_temp_c}, CAST(NULL AS DOUBLE))', '°C', 1)})",
    ]
    # '\\n' here is SQL's '\n', which the parser turns into a newline
    return f"concat_ws('\\n', {', '.join(lines)})"
