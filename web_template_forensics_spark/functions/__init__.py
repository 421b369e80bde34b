"""Vectorized pandas/Arrow UDFs, pure-SQL column builders and media codecs."""
