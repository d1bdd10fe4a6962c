"""Sources & sinks (SURVEY §2.A) + storage layout (§7 M6)."""
