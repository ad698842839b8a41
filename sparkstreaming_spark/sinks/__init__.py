from .upsert import UpsertSink
from .files import write_csv_segments, append_text_file

__all__ = ["UpsertSink", "append_text_file", "write_csv_segments"]
