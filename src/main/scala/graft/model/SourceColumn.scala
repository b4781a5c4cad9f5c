package graft.model

/** A column of a captured table (ref internal/cdc/types.go:59-74). */
final case class SourceColumn(
    name: String,
    pgType: String,
    nullable: Boolean = true,
    primaryKey: Boolean = false)
