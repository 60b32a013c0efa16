"""Order-insensitive hash of a query result, normalised the way
dev/check_oracle.py compares Spark and DuckDB results: columns sorted by
name, rows sorted by all columns, then the md5 of the CSV text."""
import hashlib


def result_hash(df):
    """(row count, md5) of a pandas DataFrame."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return len(df), hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
