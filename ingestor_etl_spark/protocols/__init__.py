"""Protocol decoders: frames → typed per-message DataFrames.

Each module covers one protocol family from SURVEY §2.2-§2.4. The
byte-level walks live in plain-Python parser functions (unit-testable
without Spark); each decoder wraps its parser in a row function run by
the one Arrow-batched row loop, ``rows.map_rows``, which holds the
one ``except`` around a whole row: a row whose function raises
contributes the rows it yielded before the raise and nothing else,
and its neighbours are unaffected. All relational work downstream
(filters, correlation joins, group enrichment, sessionization) is
native DataFrame API so Catalyst prunes and pushes as usual.
"""
